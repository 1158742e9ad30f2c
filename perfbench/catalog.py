"""The ``catalog_textvec`` workload: the text/vector catalog entries.

One op is ``Q.fn(spark, sf_dir)`` followed by a noop write; one pass runs
every entry once, in an order the seed permutes per pass. The fixture is
the fixed sf0.01 copy in ``perfbench/data`` -- the scale at which the
catalog's DuckDB oracle hashes are established -- so the timed outputs are
the checked outputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
from functools import partial

from vmware_sd_wan_velocloud_bi_intake_spark.queries import catalog, textvec

from tests.oracle_util import canonical_rows

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.01")


class CatalogTextvec:
    name = "catalog_textvec"
    min_warm_passes = 2

    def __init__(self, spark, tracer, seed: int, work: str, cache: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.cache = cache
        self.queries = {
            n: textvec.QUERIES[n] for n in catalog.ORDER if n in textvec.QUERIES
        }
        self.last_df = {}
        self._pass_rows = sum(
            _table_rows(t) for q in self.queries.values() for t in _oracle_tables(q.oracle)
        )

    def instrument(self) -> None:
        self.tracer.wrap(textvec, "stage_checkpoint", "queries.stage_checkpoint")
        self.tracer.wrap(
            textvec, "stage_checkpoints_concurrent", "queries.stage_checkpoint"
        )

    def ops(self, pass_idx: int):
        names = list(self.queries)
        random.Random(f"{self.seed}:{pass_idx}").shuffle(names)
        return [(n, partial(self._op, n)) for n in names]

    def _op(self, name: str) -> None:
        with self.tracer.span("queries.build"):
            df = self.queries[name].fn(self.spark, SF_DIR)
        with self.tracer.span("sinks.noop"):
            df.write.format("noop").mode("overwrite").save()
        self.last_df[name] = df

    def records(self, pass_idx: int) -> int:
        """Input rows of one pass: per entry, the rows of the fixture tables
        its oracle reads."""
        return self._pass_rows

    def extra_metrics(self, metrics: dict) -> None:
        pass

    def check(self) -> dict[str, str]:
        """Entry -> mismatch, checking each entry's output of the last pass."""
        failures = {}
        for name, df in self.last_df.items():
            try:
                expect = self._oracle(name)
                got = df.toPandas()
            except Exception as exc:  # an entry that cannot be checked fails
                failures[name] = f"{type(exc).__name__}: {exc}"[:300]
                continue
            if sorted(got.columns) != expect["columns"]:
                failures[name] = f"columns {sorted(got.columns)} != {expect['columns']}"
            elif _digest(canonical_rows(got)) != expect["digest"]:
                failures[name] = f"values differ ({len(got)} rows, oracle {expect['rows']})"
        return failures

    def _oracle(self, name: str) -> dict:
        """The entry's DuckDB oracle result, canonicalised; cached per
        (oracle SQL, fixture bytes), both of which are fixed inputs."""
        sql = self.queries[name].oracle
        key = hashlib.sha256(sql.encode())
        for table in sorted(_oracle_tables(sql)):
            with open(os.path.join(SF_DIR, f"{table}.parquet"), "rb") as f:
                key.update(f.read())
        path = os.path.join(self.cache, f"oracle-{name}-{key.hexdigest()[:16]}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        pdf = _run_oracle(sql)
        out = {
            "columns": sorted(pdf.columns),
            "rows": len(pdf),
            "digest": _digest(canonical_rows(pdf)),
        }
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, path)
        return out


def _oracle_tables(sql: str) -> set[str]:
    present = {f[: -len(".parquet")] for f in os.listdir(SF_DIR)}
    return {t for t in present if re.search(rf"\b{t}\b", sql)}


def _table_rows(table: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(os.path.join(SF_DIR, f"{table}.parquet")).metadata.num_rows


def _run_oracle(sql: str):
    import duckdb

    con = duckdb.connect()
    try:
        for table in _oracle_tables(sql):
            path = os.path.join(SF_DIR, f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def _digest(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()
