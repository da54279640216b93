"""The benchmark's workloads.

Each workload makes its inputs from the seed, then runs units one at a
time. The first unit of an untraced run is cold, the work a command-line
run pays for in a fresh JVM; a traced run warms up first. A workload
provides:

- ``generate(spark, seed)``: make the inputs (every set-up repeats it);
- ``warm_up(spark)``: the traced run's untimed cold execution; returns
  (correct, seconds);
- ``before_unit()`` (untimed), ``unit(spark, tracer)`` (timed) and
  ``check_unit(spark)`` (untimed; False on a wrong result, judged by the
  DuckDB oracle once per run);
- ``unit_write_mb(since)``: MB the unit wrote outside Spark's shuffle;
- ``traced_functions()``: span name -> program function to wrap when traced;
- ``layer_metrics(spans)``: the last unit's per-layer values.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import os
import re
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from phabricator_etl_spark.plans import incremental_runner as runner

from counters import MB, StatusReader
from tracing import self_seconds

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = sorted(runner.MERGE_KEYS)
END = 2_000_000_000  # after every generated timestamp


class _RowCapture:
    """Stands in for the session ``phab_fixtures.generate`` is given and
    keeps each table it creates as an Arrow table plus its Spark schema, so
    landing the world as parquet costs no Spark jobs."""

    def createDataFrame(self, rows, schema):
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow = to_arrow_schema(schema)
        cols = list(zip(*rows)) if rows else [()] * len(arrow)
        return pa.table([pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow), schema


def _new_files(root: str, since: float) -> list[str]:
    """Files under ``root`` modified at or after ``since``."""
    out = []
    for d, _, names in os.walk(root):
        out += [p for p in (os.path.join(d, n) for n in names) if os.stat(p).st_mtime >= since]
    return out


def _manifest(root: str) -> dict[str, int]:
    """Relative path -> size of every file under ``root``."""
    return {os.path.relpath(os.path.join(d, n), root): os.path.getsize(os.path.join(d, n))
            for d, _, names in os.walk(root) for n in names}


def _rows_changed(before: str, after: str, tables=TABLES) -> int:
    """Rows of the destination ``after`` that ``before`` lacks, as whole
    rows summed over the tables: the rows a run inserted or updated.
    Columns are matched by name: a merge writes them in another order than
    a first load."""
    changed = 0
    with duckdb.connect() as con:
        for t in tables:
            def scan(root):
                return f"read_parquet('{root}/{t}/**/*.parquet', hive_partitioning = true)"
            cols = ", ".join(f'"{r[0]}"' for r in con.execute(f"DESCRIBE SELECT * FROM {scan(after)}").fetchall())
            changed += con.execute(
                f"SELECT count(*) FROM (SELECT {cols} FROM {scan(after)} EXCEPT ALL SELECT {cols} FROM {scan(before)})"
            ).fetchone()[0]
    return changed


def _summary(out) -> list[tuple]:
    """etl_e2e's per-table (n_rows, key_sum, rec_sum) of an ETL run's tables."""
    from phabricator_etl_spark.plans import etl_e2e

    return [tuple(r) for r in etl_e2e._summarize(out).collect()]


def _oracle_summary(world_dir: str) -> list[tuple]:
    """The same summary from etl_e2e's DuckDB oracle over the landed world."""
    from phabricator_etl_spark.plans import etl_e2e, phab_queries

    sql = etl_e2e._e2e_oracle().replace(phab_queries.FIXTURE_DIR, world_dir)
    with duckdb.connect() as con:
        return [tuple(r) for r in con.execute(sql).fetchall()]


class EtlFull:
    """The reference's process() as a first load: one
    ``run_incremental(full=True)`` into an empty destination, landing the
    eight tables.

    The traced run's cold warm-up is the first load of the early world,
    every revision but the newest 2% by dateModified, into a pristine
    destination. Once
    ``incremental`` is set, units are the nightly shape instead: one
    incremental ``run_incremental`` over the whole world into a copy of
    that pristine destination."""

    name = "etl_full"
    # 10x the gate fixture (generate()'s defaults)
    WORLD = dict(n_users=400, n_projects=120, n_repos=80, n_revisions=1200)
    DELTA = 0.02  # share of revisions the incremental unit adds

    def __init__(self, work: str):
        self.world_dir = os.path.join(work, "world")
        self.dest = os.path.join(work, "dest")
        self.pristine = os.path.join(work, "pristine")
        self.pristine_manifest = {}
        self.incremental = False
        self.first = None  # summary rows of the first full load of the whole world
        self.rows_written = 0
        self.source_rows = 0

    def generate(self, spark, seed: int) -> None:
        """The world, landed as parquet and read back: the ETL scans stored
        sources, and the DuckDB oracle reads the same files. The early world
        is etl_e2e_incremental's split, taken at the newest DELTA instead of
        the median."""
        from phabricator_etl_spark.sources.phab_fixtures import PhabSources, generate

        world = generate(_RowCapture(), seed=seed, **self.WORLD)
        shutil.rmtree(self.world_dir, ignore_errors=True)
        self.source_rows = 0
        tables = {}
        for name in PhabSources.__dataclass_fields__:
            tbl, schema = getattr(world, name)
            self.source_rows += tbl.num_rows
            path = os.path.join(self.world_dir, name)
            os.makedirs(path)
            pq.write_table(tbl, os.path.join(path, "part-0.parquet"))
            tables[name] = spark.read.schema(schema).parquet(path)
        self.src = PhabSources(**tables)
        modified = np.sort(world.revision[0].column("dateModified").to_numpy())
        cut = int(modified[-max(1, round(len(modified) * self.DELTA))])
        self.early = PhabSources(**{**tables, "revision": tables["revision"].filter(f"dateModified < {cut}")})

    def warm_up(self, spark) -> tuple[bool, float]:
        """The cold first load of the early world into the pristine
        destination; returns whether it landed every table and its seconds.
        Its summary is not held to the oracle: the runner keeps the diffs of
        revisions the early world lacks, and the oracle drops them."""
        shutil.rmtree(self.pristine, ignore_errors=True)
        t0 = time.perf_counter()
        runner.run_incremental(spark, self.early, self.pristine, now=END, full=True)
        seconds = time.perf_counter() - t0
        self.pristine_manifest = _manifest(self.pristine)
        return set(TABLES) <= set(os.listdir(self.pristine)), seconds

    def before_unit(self) -> None:
        shutil.rmtree(self.dest, ignore_errors=True)
        if self.incremental:
            shutil.copytree(self.pristine, self.dest)  # copy2 keeps mtimes: only new writes count
            if _manifest(self.dest) != self.pristine_manifest:
                raise RuntimeError("restored destination differs from the preload")

    def unit(self, spark, tracer) -> None:
        self.out = runner.run_incremental(spark, self.src, self.dest, now=END, full=not self.incremental)

    def unit_write_mb(self, since: float) -> float:
        """MB of the destination files the unit wrote; their rows are kept
        for ``layer_metrics``."""
        new = _new_files(self.dest, since)
        self.rows_written = sum(pq.ParquetFile(p).metadata.num_rows for p in new if p.endswith(".parquet"))
        return sum(os.path.getsize(p) for p in new) / MB

    def check_unit(self, spark) -> bool:
        """The unit's final tables reduce to etl_e2e's per-table summary.
        The first full load's must equal the DuckDB oracle's; every later
        unit's, incremental ones included, must equal the first."""
        got = _summary(self.out)
        self.out = None
        if self.first is None:
            self.first = got
            return got == _oracle_summary(self.world_dir)
        return got == self.first

    def traced_functions(self) -> dict[str, object]:
        from phabricator_etl_spark.operators import graph
        from phabricator_etl_spark.plans import phab_pipelines

        funcs = {"graph.connected_components": graph.connected_components,
                 "incremental_runner.read_watermark": runner.read_watermark}
        for attr, f in vars(phab_pipelines).items():
            if attr.startswith(("dim_", "build_", "stack_")) and getattr(f, "__module__", "") == phab_pipelines.__name__:
                funcs[f"phab_pipelines.{attr}"] = f
        return funcs

    def layer_metrics(self, spans) -> dict[str, float]:
        phases = runner.PHASE_LOG[-1]
        branches = {t: phases[f"branch_{t}"] for t in TABLES}

        def total(prefix: str) -> float:
            return sum(s.seconds for s in spans if s.name.startswith(prefix))

        m = {
            "incremental_runner.watermark_and_cc_s": phases["watermark_and_cc"],
            "incremental_runner.expand_and_pin_dims_s": phases["expand_and_pin_dims"],
            "incremental_runner.merge_write_s": phases["merge_write_wall"],
            "incremental_runner.branch_max_s": max(branches.values()),
            "incremental_runner.rows_written": self.rows_written,
            "graph.connected_components_s": total("graph.connected_components"),
            "phab_pipelines.plan_s": sum(self_seconds(spans, s) for s in spans if s.name.startswith("phab_pipelines.")),
            "phab_pipelines.stack_components_s": total("phab_pipelines.stack_components"),
        }
        m.update({f"incremental_runner.branch.{t}_s": v for t, v in branches.items()})
        if self.incremental:
            changed = _rows_changed(self.pristine, self.dest)
            m.update({
                "incremental_runner.read_watermark_s": total("incremental_runner.read_watermark"),
                "incremental_runner.rows_changed": changed,
                "incremental_runner.rewrite_ratio": self.rows_written / changed,
            })
        return m


class AnalyticsMix:
    """Registered analytics queries from modules the ETL never runs, one
    pass per unit, each query forced with count(). None of them reads a
    session model cache, so every pass does the same work."""

    name = "analytics_mix"
    SF = 0.01
    QUERIES = [
        "dedup_minhash_lsh",  # operators.dedup: MinHash signatures, LSH bucket self-join
        "ann_topk_vectorized",  # operators.similarity: Arrow batches through numpy top-k
        "q9_product_profit",  # plans.tpch_extra: six-table join and aggregate
        "stream_tumbling_daily",  # streaming.events: a Structured Streaming query
    ]

    def __init__(self, work: str):
        from phabricator_etl_spark import registry

        self.data = os.path.join(work, "data")
        by_name = {q.name: q for q in registry.all_queries()}
        self.queries = [by_name[n] for n in self.QUERIES]
        self.checked_rows = None  # query -> rows of the oracle-checked result
        self.counts = {}
        self.query_stats = {}  # name -> (seconds, jobs, executor cpu s) in the last traced unit
        self.source_rows = 0

    def generate(self, spark, seed: int) -> None:
        shutil.rmtree(self.data, ignore_errors=True)
        with open(os.devnull, "w") as quiet, contextlib.redirect_stdout(quiet):
            _scale_data_generator(seed).generate(self.SF, self.data)
        self.source_rows = sum(pq.ParquetFile(os.path.join(self.data, f)).metadata.num_rows
                               for f in os.listdir(self.data))

    def warm_up(self, spark) -> tuple[bool, float]:
        """One cold, unchecked pass; returns True and its seconds."""
        t0 = time.perf_counter()
        self.unit(spark, None)
        return True, time.perf_counter() - t0

    def before_unit(self) -> None:
        pass

    def unit(self, spark, tracer) -> None:
        reader = StatusReader(spark) if tracer else None
        self.counts = {}
        for q in self.queries:
            if not tracer:
                self.counts[q.name] = q.build(spark, self.data).count()
                continue
            last = reader.last_job_id()
            with tracer.span(f"query.{q.name}") as s:
                self.counts[q.name] = q.build(spark, self.data).count()
            w = reader.work_since(last)
            self.query_stats[q.name] = (s.seconds, w.jobs, w.executor_cpu_s)

    def unit_write_mb(self, since: float) -> float:
        return 0.0

    def check_unit(self, spark) -> bool:
        """The first checked pass runs ``oracle_check.check_query`` on every
        query and must return the row counts of the matched results; later
        passes must return the same counts. Two checks run at a time, so
        the LSH oracle's DuckDB seconds overlap the other queries' Spark
        seconds."""
        from phabricator_etl_spark import oracle_check

        if self.checked_rows is None:
            with ThreadPoolExecutor(max_workers=2) as pool:
                results = list(pool.map(lambda q: oracle_check.check_query(spark, q, self.data), self.queries))
            self.checked_rows = {}
            for q, res in zip(self.queries, results):
                m = re.fullmatch(r"match: (\d+) rows", res.detail)
                if res.ok and m:
                    self.checked_rows[q.name] = int(m.group(1))
                else:
                    print(f"oracle check failed: {q.name}: {res.detail}", file=sys.stderr)
        return self.counts == self.checked_rows

    def traced_functions(self) -> dict[str, object]:
        return {}

    def layer_metrics(self, spans) -> dict[str, float]:
        m = {}
        for name, (sec, jobs, cpu) in self.query_stats.items():
            m.update({f"query.{name}_s": sec, f"query.{name}_jobs": jobs, f"query.{name}_cpu_s": cpu})
        return m


def _scale_data_generator(seed: int):
    """tools/gen_scale_data.py with the workload seed mixed into its
    per-table generators (the tool seeds from table, sf and skew only)."""
    path = os.path.join(ROOT, "tools", "gen_scale_data.py")
    spec = importlib.util.spec_from_file_location("perfbench_gen_scale_data", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    def rng(table: str, sf: float, skew: bool) -> np.random.Generator:
        key = f"{table}|{round(sf * 1000)}|{skew}|seed{seed}".encode()
        return np.random.default_rng(int.from_bytes(hashlib.md5(key).digest()[:8], "big"))

    mod._rng = rng
    return mod


WORKLOADS = {w.name: w for w in (EtlFull, AnalyticsMix)}
