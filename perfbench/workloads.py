"""The benchmark's workloads.

Each workload generates its inputs from the seed (before any clock
starts), registers them on the session, runs one *pass* at a time and
checks the pass's result against a DuckDB replay of the same inputs.
A pass returns its unit operations as ``(kind, seconds)`` pairs, the
kind naming the step or query.  The
package is driven only through its public API: ``Pypeline`` and
``PipelineConfig`` with ``ParquetCatalog`` or ``LakehouseCatalog``, the
registry builders, and ``bench.HEADLINE``.

Layer timings come from benchmark-side wrappers: ``TimedParquetCatalog``
and ``TimedLakehouseCatalog`` subclass the package's catalogs and time
the calls the runner makes into them.  They are used only when tracing.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import duckdb
import numpy as np
import pyarrow as pa

from perfbench import gen


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    total = files = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(base, n))
            files += 1
    return total, files


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _diff_rows(con, left: str, right: str) -> int:
    """Rows in either relation but not the other (multiset)."""
    return con.execute(
        f"SELECT (SELECT count(*) FROM ({left} EXCEPT ALL {right})) + "
        f"(SELECT count(*) FROM ({right} EXCEPT ALL {left}))"
    ).fetchone()[0]


class Workload:
    name = ""

    def __init__(self, work_dir: str, seed: int, scale: float) -> None:
        self.work_dir = work_dir
        self.data_dir = os.path.join(work_dir, "data")
        self.seed = seed
        self.scale = scale
        self.inputs: dict[str, tuple[int, int]] = {}
        self.tracer = None

    @property
    def input_rows(self) -> int:
        return sum(r for r, _ in self.inputs.values())

    @property
    def input_bytes(self) -> int:
        return sum(b for _, b in self.inputs.values())

    def generate(self) -> None:
        raise NotImplementedError

    def register(self, spark) -> None:
        raise NotImplementedError

    def run_pass(self, spark, pass_dir: str) -> list[tuple[str, float]]:
        raise NotImplementedError

    def warm_up(self, spark, pass_dir: str) -> int:
        """The untimed set-up pass; returns the number of ops it ran."""
        return len(self.run_pass(spark, pass_dir))

    # False when only the warm-up pass's outputs can be checked
    check_every_pass = True
    # True when this workload's traced run also runs the query_headline
    # passes (run.run_query_phase)
    hosts_query_phase = False

    def check(self, spark, pass_dir: str) -> list[str]:
        """Problems with the pass's result; empty when it is correct."""
        raise NotImplementedError

    def layer_extras(self, spark, pass_dir: str) -> dict:
        """Traced-only figures read after a pass, before its directory goes."""
        return {}

    def _op(self, kind: str, fn, **attrs) -> float:
        tr = self.tracer
        t0 = time.perf_counter()
        if tr is None:
            fn()
        else:
            with tr.op(kind, **attrs):
                fn()
        return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# etl_keyed: extract -> row-dict chain -> keyed upsert / update / delete
# ---------------------------------------------------------------------------

ETL_EXTRACT = """
SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS gross_cents
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_orderpriority
"""

# DuckDB replay of perfbench.xform.OrderBand + LineAverage.
ETL_TRANSFORM_SQL = f"""
SELECT *,
       CASE WHEN n_lines >= 6 THEN 'BULK'
            WHEN gross_cents >= 20000000 THEN 'LARGE' ELSE 'SMALL' END AS band,
       CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS prio,
       gross_cents // n_lines AS avg_line_cents
FROM ({ETL_EXTRACT})
"""

ETL_COLUMNS = (
    "o_orderkey, o_custkey, o_orderstatus, o_orderpriority, n_lines, qty, "
    "gross_cents, band, prio, avg_line_cents"
)

# DuckDB replay of the whole pipeline: load, restatus, purge.
_RESTATUSED = "coalesce(c.new_status, t.o_orderstatus) AS o_orderstatus"
ETL_EXPECTED = f"""
SELECT {ETL_COLUMNS.replace("o_orderstatus", _RESTATUSED)}
FROM ({ETL_TRANSFORM_SQL}) t LEFT JOIN etl_changes c USING (o_orderkey)
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM etl_deletes)
"""

ETL_CONFIG = {
    "pypes": {
        "load": {
            "extract_query": ETL_EXTRACT,
            "target_table": "fact_orders",
            "type": "upsert",
            "key_columns": ["o_orderkey"],
            "transformers": ["perfbench.xform.OrderBand", "perfbench.xform.LineAverage"],
            "transformer_schema": (
                "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
                "o_orderpriority string, n_lines bigint, qty bigint, "
                "gross_cents bigint, band string, prio int, avg_line_cents bigint"
            ),
        },
        "restatus": {
            "extract_query": (
                "SELECT t.o_orderkey, c.new_status AS o_orderstatus "
                "FROM fact_orders t JOIN etl_changes c ON t.o_orderkey = c.o_orderkey"
            ),
            "target_table": "fact_orders",
            "type": "update",
            "key_columns": ["o_orderkey"],
        },
        "purge": {
            "extract_query": "SELECT o_orderkey FROM etl_deletes",
            "target_table": "fact_orders",
            "type": "delete",
            "identifier": "o_orderkey",
            "post_query": (
                "SELECT band, o_orderstatus, COUNT(*) AS n, SUM(gross_cents) AS gross "
                "FROM fact_orders GROUP BY band, o_orderstatus"
            ),
        },
    },
    "pypelines": {"load": ["load"], "restatus": ["restatus"], "purge": ["purge"]},
}


def _timed_parquet_catalog(tracer):
    from pypeline_spark.sinks.keyed import ParquetCatalog

    class TimedParquetCatalog(ParquetCatalog):
        """ParquetCatalog whose ``put`` is a span; counts the bytes it wrote."""

        bytes_written = 0

        def put(self, name, df):
            with tracer.span("keyed.put", table=name):
                super().put(name, df)
            self.bytes_written += dir_bytes(self._path(name))[0]

    return TimedParquetCatalog


class EtlKeyed(Workload):
    """The reference's own loop at size: join+aggregate extract, a
    row-dict transformer chain, then keyed upsert, update and delete on
    a ``ParquetCatalog``."""

    name = "etl_keyed"
    hosts_query_phase = True
    # lineitem rows per order; orders = 150k * scale
    LINES_PER_ORDER = 4

    def generate(self) -> None:
        os.makedirs(self.data_dir, exist_ok=True)
        rng = np.random.default_rng(self.seed)
        n_orders = int(150_000 * self.scale)
        self.inputs["orders"] = gen.write(
            self.data_dir, "orders", gen.orders(rng, n_orders, 15_000))
        self.inputs["lineitem"] = gen.write(self.data_dir, "lineitem", gen.lineitem(
            rng, n_orders * self.LINES_PER_ORDER, n_orders, 20_000, 1_000))
        changed = rng.choice(n_orders, n_orders // 10, replace=False)
        self.inputs["etl_changes"] = gen.write(self.data_dir, "etl_changes", {
            "o_orderkey": pa.array(np.sort(changed).astype(np.int64)),
            "new_status": gen.pick(rng, ["C", "F", "O", "P"], len(changed)),
        })
        deleted = rng.choice(n_orders, n_orders // 20, replace=False)
        self.inputs["etl_deletes"] = gen.write(self.data_dir, "etl_deletes", {
            "o_orderkey": pa.array(np.sort(deleted).astype(np.int64)),
        })

    def register(self, spark) -> None:
        from pypeline_spark.session import register_tables

        register_tables(spark, self.data_dir, only=("orders", "lineitem"))
        for name in ("etl_changes", "etl_deletes"):
            spark.read.parquet(os.path.join(self.data_dir, f"{name}.parquet")) \
                .createOrReplaceTempView(name)

    def run_pass(self, spark, pass_dir):
        from pypeline_spark.pipeline.runner import Pypeline
        from pypeline_spark.pipeline.spec import PipelineConfig
        from pypeline_spark.sinks.keyed import ParquetCatalog

        cls = ParquetCatalog if self.tracer is None else _timed_parquet_catalog(self.tracer)
        self.catalog = cls(os.path.join(pass_dir, "catalog"), spark=spark)
        pipe = Pypeline(spark, PipelineConfig.from_dict(ETL_CONFIG), catalog=self.catalog)
        return [
            (step, self._op("runner.step", lambda s=step: pipe.run(s), step=step))
            for step in ETL_CONFIG["pypelines"]
        ]

    def check(self, spark, pass_dir):
        con = duckdb.connect()
        for name in ("orders", "lineitem", "etl_changes", "etl_deletes"):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"'{os.path.join(self.data_dir, name)}.parquet'"
            )
        target = os.path.join(pass_dir, "catalog", "fact_orders", "*.parquet")
        n = _diff_rows(con, f"SELECT {ETL_COLUMNS} FROM '{target}'", ETL_EXPECTED)
        return [f"fact_orders differs from its replay in {n} rows"] if n else []

    def layer_extras(self, spark, pass_dir):
        """Keyed write volume, and the chain cost: the noop-forced chain
        over the extract minus the extract alone."""
        from pypeline_spark.pipeline.transformers import (
            apply_transform_chain,
            load_transformers,
        )

        spec = ETL_CONFIG["pypes"]["load"]
        base = spark.sql(ETL_EXTRACT)
        chained = apply_transform_chain(
            base, load_transformers(spec["transformers"]), spec["transformer_schema"]
        )
        bare = self._op("transformers.extract", lambda: _noop(base))
        full = self._op("transformers.chain", lambda: _noop(chained))
        plan = chained._jdf.queryExecution().executedPlan().toString()
        written = self.catalog.bytes_written
        final = dir_bytes(os.path.join(pass_dir, "catalog", "fact_orders"))[0]
        return {
            "keyed.bytes_written": written,
            "keyed.write_amp": written / final,
            "transformers.chain_s": full - bare,
            "transformers.rows": base.count(),
            "transformers.python_passes": plan.count("MapInPandas"),
        }


# ---------------------------------------------------------------------------
# lakehouse_ingest: seeded keyed batches through the ManifestTable commit path
# ---------------------------------------------------------------------------

LH_COLUMNS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"

LH_CONFIG = {
    "pypes": {
        "seed": {
            "extract_query": f"SELECT {LH_COLUMNS} FROM orders",
            "target_table": "lh_orders",
            "type": "lakehouse",
            "lakehouse_op": "overwrite",
            "key_columns": ["o_orderkey"],
            "batch_id": "seed",
        },
        "upsert": {
            "extract_query": f"SELECT {LH_COLUMNS} FROM lh_upserts WHERE batch = {{batch}}",
            "target_table": "lh_orders",
            "type": "lakehouse",
            "lakehouse_op": "upsert",
            "key_columns": ["o_orderkey"],
            "batch_id": "up-{batch}",
        },
        "delete": {
            "extract_query": "SELECT o_orderkey FROM lh_deletes WHERE batch = {batch}",
            "target_table": "lh_orders",
            "type": "lakehouse",
            "lakehouse_op": "delete",
            "identifier": "o_orderkey",
            "batch_id": "del-{batch}",
            "post_query": (
                "SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS total "
                "FROM lh_orders GROUP BY o_orderstatus"
            ),
        },
    },
    "pypelines": {name: [name] for name in ("seed", "upsert", "delete")},
}


def _timed_lakehouse_catalog(tracer):
    from pypeline_spark.pipeline.lakehouse import LakehouseCatalog

    class TimedLakehouseCatalog(LakehouseCatalog):
        """LakehouseCatalog whose tables' commit entry points are spans;
        the package itself still resolves and caches the tables."""

        def table(self, name):
            t = super().table(name)
            if "merge_into" not in vars(t):
                merge, overwrite = t.merge_into, t.commit_overwrite

                def merge_into(*a, **kw):
                    delete = kw["clauses"][0][0] == "delete"
                    with tracer.span("manifest.delete" if delete else "manifest.merge"):
                        return merge(*a, **kw)

                def commit_overwrite(*a, **kw):
                    with tracer.span("manifest.overwrite"):
                        return overwrite(*a, **kw)

                t.merge_into, t.commit_overwrite = merge_into, commit_overwrite
            return t

    return TimedLakehouseCatalog


class LakehouseIngest(Workload):
    """Write-heavy incremental sync on the ACID tier: seed a
    ManifestTable, apply seeded keyed upsert and delete batches through
    ``type: lakehouse`` steps, then replay some batch ids."""

    name = "lakehouse_ingest"
    BATCHES = 2
    UPSERT_ROWS = 3_000
    DELETE_ROWS = 300
    REPLAYS = 1

    def generate(self) -> None:
        os.makedirs(self.data_dir, exist_ok=True)
        rng = np.random.default_rng(self.seed)
        n_orders = int(150_000 * self.scale)
        self.inputs["orders"] = gen.write(
            self.data_dir, "orders", gen.orders(rng, n_orders, 15_000))
        up_rows = max(10, int(self.UPSERT_ROWS * self.scale))
        del_rows = max(5, int(self.DELETE_ROWS * self.scale))
        alive = np.arange(n_orders)
        next_key = n_orders
        ups, dels = [], []
        for b in range(1, self.BATCHES + 1):
            n_new = up_rows * 3 // 10
            old = rng.choice(alive, up_rows - n_new, replace=False)
            new = np.arange(next_key, next_key + n_new)
            next_key += n_new
            keys = np.concatenate([old, new])
            batch = gen.orders(rng, len(keys), 15_000)
            batch["o_orderkey"] = pa.array(keys.astype(np.int64))
            batch["batch"] = pa.array(np.full(len(keys), b, dtype=np.int32))
            ups.append(pa.table(batch))
            alive = np.union1d(alive, new)
            gone = rng.choice(np.setdiff1d(alive, keys), del_rows, replace=False)
            alive = np.setdiff1d(alive, gone)
            dels.append(pa.table({
                "o_orderkey": pa.array(np.sort(gone).astype(np.int64)),
                "batch": pa.array(np.full(len(gone), b, dtype=np.int32)),
            }))
        self.inputs["lh_upserts"] = gen.write(self.data_dir, "lh_upserts", pa.concat_tables(ups))
        self.inputs["lh_deletes"] = gen.write(self.data_dir, "lh_deletes", pa.concat_tables(dels))
        self.replays = sorted(rng.choice(np.arange(1, self.BATCHES + 1), self.REPLAYS).tolist())

    def register(self, spark) -> None:
        from pypeline_spark.session import register_tables

        register_tables(spark, self.data_dir, only=("orders",))
        for name in ("lh_upserts", "lh_deletes"):
            spark.read.parquet(os.path.join(self.data_dir, f"{name}.parquet")) \
                .createOrReplaceTempView(name)

    def run_pass(self, spark, pass_dir):
        from pypeline_spark.pipeline.lakehouse import LakehouseCatalog
        from pypeline_spark.pipeline.runner import Pypeline
        from pypeline_spark.pipeline.spec import PipelineConfig

        cls = LakehouseCatalog if self.tracer is None else _timed_lakehouse_catalog(self.tracer)
        lake = cls(os.path.join(pass_dir, "lake"))
        pipe = Pypeline(spark, PipelineConfig.from_dict(LH_CONFIG), lakehouse=lake)
        self.lake = lake
        ops = [("seed", self._op("runner.step", lambda: pipe.run("seed"), step="seed"))]
        for b in range(1, self.BATCHES + 1):
            for step in ("upsert", "delete"):
                ops.append((step, self._op(
                    "runner.step", lambda s=step: pipe.run(s, {"batch": b}), step=step)))
        table = lake.table("lh_orders")
        self.replay_noops = 0
        for b in self.replays:
            for step in ("upsert", "delete"):
                before = table.version()
                ops.append((f"replay-{step}", self._op(
                    "runner.step", lambda s=step: pipe.run(s, {"batch": b}),
                    step=f"replay-{step}")))
                self.replay_noops += table.version() == before
        return ops

    def check(self, spark, pass_dir):
        problems = []
        n_replays = 2 * len(self.replays)
        if self.replay_noops != n_replays:
            problems.append(
                f"{n_replays - self.replay_noops} of {n_replays} replays changed the version")
        got = self.lake.get(spark, "lh_orders").toPandas()
        con = duckdb.connect()
        d = self.data_dir
        con.execute(f"CREATE TABLE cur AS SELECT {LH_COLUMNS} FROM '{d}/orders.parquet'")
        for b in range(1, self.BATCHES + 1):
            con.execute(f"""
                DELETE FROM cur WHERE o_orderkey IN
                    (SELECT o_orderkey FROM '{d}/lh_upserts.parquet' WHERE batch = {b});
                INSERT INTO cur SELECT {LH_COLUMNS} FROM '{d}/lh_upserts.parquet'
                    WHERE batch = {b};
                DELETE FROM cur WHERE o_orderkey IN
                    (SELECT o_orderkey FROM '{d}/lh_deletes.parquet' WHERE batch = {b});
            """)
        con.register("got", got)
        n = _diff_rows(con, f"SELECT {LH_COLUMNS} FROM got", f"SELECT {LH_COLUMNS} FROM cur")
        if n:
            problems.append(f"lh_orders differs from its replay in {n} rows")
        return problems

    def layer_extras(self, spark, pass_dir):
        t = self.lake.table("lh_orders")
        read_s = self._op("manifest.read_resolved", lambda: _noop(t.read_resolved(spark)))
        nbytes, nfiles = dir_bytes(os.path.join(t.root, "data"))
        return {
            "manifest.read_resolved_s": read_s,
            "manifest.bytes_written": nbytes,
            "manifest.files_added": nfiles,
            "manifest.versions": t.version(),
            "manifest.replay_noop_ratio": self.replay_noops / (2 * len(self.replays)),
        }


# ---------------------------------------------------------------------------
# query_headline: the bench.py headline queries through the noop sink
# ---------------------------------------------------------------------------


class QueryHeadline(Workload):
    """The 16 ``bench.HEADLINE`` registry queries on generated fixture
    tables, each forced through the noop sink; the seed also sets the
    query order of every pass."""

    name = "query_headline"
    check_every_pass = False

    def generate(self) -> None:
        self.inputs = gen.write_fixtures(self.data_dir, self.seed, self.scale)
        self._order_rng = random.Random(self.seed)

    def register(self, spark) -> None:
        from bench import HEADLINE
        from pypeline_spark.registry import load_all
        from pypeline_spark.session import register_tables

        self.names = list(HEADLINE)
        self.cases = load_all()
        register_tables(spark, self.data_dir)

    def warm_up(self, spark, pass_dir) -> int:
        """The set-up pass: runs every query once and keeps its output,
        which ``check`` then compares with the registry oracle."""
        self.outputs = {}
        for name in self.names:
            df = self.cases[name].builder(spark, self.data_dir)
            self.outputs[name] = (df.columns, df.toPandas())
        return len(self.names)

    def run_pass(self, spark, pass_dir):
        order = list(self.names)
        self._order_rng.shuffle(order)
        return [(name, self._query(spark, name)) for name in order]

    def _query(self, spark, name: str) -> float:
        tr = self.tracer
        t0 = time.perf_counter()
        if tr is None:
            _noop(self.cases[name].builder(spark, self.data_dir))
        else:
            with tr.op("query", query=name):
                with tr.span("query.build", query=name):
                    df = self.cases[name].builder(spark, self.data_dir)
                with tr.span("query.exec", query=name):
                    _noop(df)
        return time.perf_counter() - t0

    def check(self, spark, pass_dir):
        from tools.check_oracle import canon

        con = duckdb.connect()
        for name in self.inputs:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"'{os.path.join(self.data_dir, name)}.parquet'"
            )
        problems = []
        for name, (cols, got) in self.outputs.items():
            want = con.execute(self.cases[name].oracle).df()
            if sorted(cols) != sorted(want.columns):
                problems.append(f"{name}: columns {sorted(cols)} != {sorted(want.columns)}")
            elif len(got) != len(want) or canon(got) != canon(want):
                problems.append(f"{name}: {len(got)} rows differ from the oracle's {len(want)}")
        return problems


WORKLOADS = {w.name: w for w in (EtlKeyed, LakehouseIngest, QueryHeadline)}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path

