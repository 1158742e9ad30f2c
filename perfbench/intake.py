"""The ``intake`` workload: scheduled incremental BI intake.

One op, and one pass, is one tick of ``plans.velocloud.run_pipeline`` over
the seeded fleet in :mod:`perfbench.fleet`: fetch fan-out through
``sources.api``, bronze -> silver -> gold, and four key-based upserts into
parquet targets that grow tick by tick.
"""

from __future__ import annotations

import os

from vmware_sd_wan_velocloud_bi_intake_spark.plans import velocloud

from .fleet import VCOS, TransportFactory, expected_tables, interval, records_served

# per target: its key columns, then the value columns the check compares
# with the fleet, as SQL expressions (the session runs in UTC, so timestamps
# format back to the strings the fleet served)
TABLE_COLUMNS = {
    "edge": (
        ["edge_uuid"],
        ["edge_state", """date_format(last_contact, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")"""],
    ),
    "links": (["link_id"], ["edge_uuid", "network_type", "backup_state"]),
    "events": (
        ["date_format(month, 'yyyy-MM')", "edge_uuid", "event_name"],
        [],
    ),
    "customer": (
        ["vco", "enterprise_id"],
        [
            "n_connected_edges",
            "any_wireless",
            "any_backup",
            "any_active_license",
            "max_links_per_edge",
        ],
    ),
}
BUILDERS = (
    "bronze_enterprises",
    "bronze_edges",
    "bronze_events",
    "silver_edges",
    "silver_links",
    "silver_events",
    "gold_customer_rollup",
)


class Intake:
    name = "intake"
    # a tick costs one and a half catalog passes: one warm tick per run keeps
    # the runs of both workloads inside the benchmark's time budget
    min_warm_passes = 1

    def __init__(self, spark, tracer, seed: int, work: str, cache: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        # run_pipeline's sinks create their staging dirs inside out_dir's
        # tables but never out_dir itself, so the target root must exist
        self.out_dir = os.path.join(work, "intake")
        os.makedirs(self.out_dir)
        self.ticks = 0

    def instrument(self) -> None:
        wrap = self.tracer.wrap
        wrap(velocloud, "run_pipeline", "plans.run_pipeline")
        for name in BUILDERS:
            wrap(velocloud, name, f"plans.{name}")
        wrap(velocloud, "fetch_payloads", "sources.fetch_payloads")
        wrap(velocloud, "fetch_payloads_from", "sources.fetch_payloads_from")
        wrap(velocloud, "upsert_parquet", "sinks.upsert_parquet")
        wrap(velocloud, "insert_ignore_parquet", "sinks.insert_ignore_parquet")

    def ops(self, pass_idx: int):
        return [("intake.tick", lambda: self._tick(pass_idx))]

    def _tick(self, tick: int) -> None:
        self.ticks = tick + 1
        velocloud.run_pipeline(
            self.spark,
            VCOS,
            TransportFactory(self.seed, tick),
            self.out_dir,
            interval(tick),
        )

    def records(self, pass_idx: int) -> int:
        return records_served(self.seed, pass_idx)

    def extra_metrics(self, metrics: dict) -> None:
        dirs = [os.path.join(self.out_dir, t) for t in TABLE_COLUMNS]
        metrics["sinks.files_written"] = sum(
            f.startswith("part-")
            for d in dirs
            if os.path.isdir(d)
            for f in os.listdir(d)
        )

    def check(self) -> dict[str, str]:
        """Op -> mismatch. Every target must hold exactly the rows the fleet
        implies after the ticks run: one row per key, no key missing or
        extra, and the latest values of the replaced rows. A wrong target
        fails every tick, since each target is the product of all of them."""
        expect = expected_tables(self.seed, self.ticks)
        problems = []
        for table, (keys, values) in TABLE_COLUMNS.items():
            try:
                df = self.spark.read.parquet(os.path.join(self.out_dir, table))
                rows = df.selectExpr(*keys, *values).collect()
            except Exception as exc:
                problems.append(f"{table}: {type(exc).__name__}: {exc}"[:300])
                continue
            got = {tuple(r[: len(keys)]): tuple(r[len(keys) :]) for r in rows}
            if len(keys) == 1:
                got = {k[0]: v for k, v in got.items()}
            want = expect[table]
            wrong = sum(got.get(k) != v for k, v in want.items())
            if len(rows) != len(got) or got.keys() != want.keys() or wrong:
                problems.append(
                    f"{table}: rows={len(rows)} distinct keys={len(got)} "
                    f"expected={len(want)} wrong values={wrong}"
                )
        return {"intake.tick": "; ".join(problems)} if problems else {}
