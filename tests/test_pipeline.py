"""End-to-end pipeline tests on the deterministic fake transport:
bronze fetch → silver conformance → gold rollups, plus sink idempotency."""

from __future__ import annotations

import functools
import os
from collections import Counter

from pyspark.sql import functions as F

from vmware_sd_wan_velocloud_bi_intake_spark.plans.velocloud import run_pipeline
from vmware_sd_wan_velocloud_bi_intake_spark.sources.api import build_params
from vmware_sd_wan_velocloud_bi_intake_spark.sources.fake_transport import (
    FakeVcoTransport,
)

VCOS = ["vco0", "vco1"]


def _factory():
    return FakeVcoTransport(n_enterprises=3, n_edges=4)


class _LoggedTransport(FakeVcoTransport):
    """Appends one ``method vco enterpriseId`` line per call to a file, which
    the local-mode Python workers and the test share. With ``drift`` the
    n-th ``getEnterpriseEdges`` call for an enterprise serves n % 5
    CONNECTED edges, so every re-fetch sees a different fleet."""

    def __init__(self, log_path: str, drift: bool = False):
        super().__init__(n_enterprises=3, n_edges=4)
        self.log_path = log_path
        self.drift = drift

    def __call__(self, method: str, params: dict) -> object:
        ep = params.get("endpoint", {})
        line = f"{method} {ep.get('vco')} {ep.get('enterpriseId')}"
        with open(self.log_path, "a+") as log:
            log.seek(0)
            n = 1 + log.read().splitlines().count(line)
            log.write(line + "\n")
        out = super().__call__(method, params)
        if self.drift and method == "enterprise/getEnterpriseEdges":
            for i, edge in enumerate(out):
                edge["edgeState"] = "CONNECTED" if i < n % 5 else "OFFLINE"
        return out


def test_pipeline_end_to_end(spark, tmp_path):
    out = run_pipeline(spark, VCOS, _factory, out_dir=str(tmp_path))
    # 2 VCOs × 3 enterprises
    assert out.enterprises.count() == 6
    # every enterprise returns 4 edges, all with non-empty logicalId
    assert out.edges.count() == 24
    assert out.edges.filter(F.col("edge_uuid").isNull()).count() == 0
    # links explode: 1-3 links per edge
    n_links = out.links.count()
    assert 24 <= n_links <= 72
    # link ids are composite keys
    assert (
        out.links.filter(~F.col("link_id").contains("-link-")).count() == 0
    )
    # events deduped on (month, edge, name): key is unique
    ev = out.events
    assert (
        ev.groupBy("month", "edge_uuid", "event_name").count().filter("count > 1").count()
        == 0
    )
    # skip-list applied
    assert ev.filter(F.col("event_name") == "LINK_ALIVE").count() == 0
    # gold: one row per enterprise, rollup flags are 0/1
    gold = out.customer_rollup
    assert gold.count() == 6
    assert gold.filter(~F.col("any_wireless").isin(0, 1)).count() == 0
    # written tables exist
    for t in ["edge", "links", "events", "customer"]:
        assert os.path.exists(os.path.join(str(tmp_path), t))


def test_pipeline_idempotent_rerun(spark, tmp_path):
    """Re-running the same batch must not change the stored tables (the
    reference achieves this via per-row upsert idempotency; we via MERGE)."""
    run_pipeline(spark, VCOS, _factory, out_dir=str(tmp_path))
    first = {
        t: sorted(map(str, spark.read.parquet(str(tmp_path / t)).collect()))
        for t in ["edge", "links", "events", "customer"]
    }
    run_pipeline(spark, VCOS, _factory, out_dir=str(tmp_path))
    second = {
        t: sorted(map(str, spark.read.parquet(str(tmp_path / t)).collect()))
        for t in ["edge", "links", "events", "customer"]
    }
    assert first == second


def test_run_pipeline_creates_missing_out_dir(spark, tmp_path):
    out_dir = tmp_path / "not" / "yet" / "there"
    run_pipeline(spark, VCOS, _factory, out_dir=str(out_dir))
    for t in ["edge", "links", "events", "customer"]:
        assert (out_dir / t).is_dir()


def test_run_pipeline_releases_its_cache(spark, tmp_path):
    """Each run caches its enterprises; a long-lived session must not keep
    one cached relation per run after the sinks are done with it."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    before = cache_manager.cachedData().size()
    for _ in range(2):
        run_pipeline(spark, VCOS, _factory, out_dir=str(tmp_path))
    assert cache_manager.cachedData().size() == before


def test_edges_fetched_once_per_enterprise_per_run(spark, tmp_path):
    """The edge, links and customer targets all derive from the edge
    fetch; each enterprise's edges are requested once per run, as the
    reference does, not once per target."""
    log = tmp_path / "calls.log"
    factory = functools.partial(_LoggedTransport, str(log))
    for runs in (1, 2):
        run_pipeline(spark, VCOS, factory, out_dir=str(tmp_path / "out"))
        calls = Counter(
            line
            for line in log.read_text().splitlines()
            if line.startswith("enterprise/getEnterpriseEdges ")
        )
        assert calls == {
            f"enterprise/getEnterpriseEdges {v} {e}": runs
            for v in VCOS
            for e in range(3)
        }


def test_targets_share_one_edge_snapshot(spark, tmp_path):
    """Each customer's connected-edge count matches the CONNECTED rows of
    the edge target even when the API answers differently on every call.
    One VCO: the fake transport repeats edge keys across VCOs."""
    factory = functools.partial(
        _LoggedTransport, str(tmp_path / "calls.log"), drift=True
    )
    out_dir = tmp_path / "out"
    run_pipeline(spark, ["vco0"], factory, out_dir=str(out_dir))
    edges = spark.read.parquet(str(out_dir / "edge"))
    connected = {
        (r["vco"], r["enterprise_id"]): r["count"]
        for r in edges.filter(F.col("edge_state") == "CONNECTED")
        .groupBy("vco", "enterprise_id")
        .count()
        .collect()
    }
    customers = {
        (r["vco"], r["enterprise_id"]): r["n_connected_edges"]
        for r in spark.read.parquet(str(out_dir / "customer")).collect()
    }
    assert len(customers) == 3
    assert customers == {k: connected.get(k, 0) for k in customers}


def test_projection_and_interval_pushdown():
    """S3/S4: request builder pushes projection/interval/limit server-side."""
    p = build_params(
        base_params={"enterpriseId": 7},
        projection=["site", "recentLinks"],
        interval=(1000, 2000),
        limit=100,
    )
    assert p["with"] == ["site", "recentLinks"]
    assert p["interval"] == {"start": 1000, "end": 2000}
    assert p["limit"] == 100
    assert p["enterpriseId"] == 7


def test_interval_pushdown_limits_transport_rows():
    """The fake transport honors interval pushdown — events outside the
    window are never shipped (the analog of the reference's API-side
    interval filters)."""
    t = FakeVcoTransport()
    full = t("event/getEnterpriseEvents", {"endpoint": {"vco": "v", "enterpriseId": 1}})
    narrow = t(
        "event/getEnterpriseEvents",
        {
            "endpoint": {"vco": "v", "enterpriseId": 1},
            "interval": {"start": 1704067200000, "end": 1704067200000 + 86400000},
        },
    )
    assert len(narrow["data"]) < len(full["data"])


def test_naming_conformance(spark):
    from vmware_sd_wan_velocloud_bi_intake_spark.functions.naming import (
        camel_to_snake,
        conform_columns,
        snake_to_camel,
    )

    assert camel_to_snake("edgeState") == "edge_state"
    assert camel_to_snake("linkUUIDValue") == "link_uuid_value"
    assert camel_to_snake("already_snake") == "already_snake"
    assert snake_to_camel("edge_state") == "edgeState"
    assert snake_to_camel("a") == "a"
    df = spark.createDataFrame([(1, "x")], "edgeId int, edgeState string")
    assert conform_columns(df).columns == ["edge_id", "edge_state"]
    assert conform_columns(conform_columns(df), "camel").columns == [
        "edgeId",
        "edgeState",
    ]


def test_fetch_payloads_degrade_records_side_channel(spark):
    """S2 at the fetch layer: the degradation is recorded per row in the
    status column (the reference's msg channel), and the payload arrives
    minus the degraded sub-object."""
    from vmware_sd_wan_velocloud_bi_intake_spark.sources.api import (
        build_params,
        fetch_payloads,
    )
    from vmware_sd_wan_velocloud_bi_intake_spark.sources.fake_transport import (
        flaky_license_transport,
    )
    import json

    out = fetch_payloads(
        spark,
        endpoints=[{"vco": "vco0", "enterpriseId": e} for e in range(3)],
        method="enterprise/getEnterpriseEdges",
        params=build_params(
            projection=["site", "recentLinks", "licenses"]
        ),
        transport_factory=flaky_license_transport,
        degradable=["licenses"],
    ).collect()
    assert len(out) == 3
    for r in out:
        assert "with licenses failed - got without licenses" in r["status"]
        edges = json.loads(r["payload"])
        assert len(edges) == 4
        assert all("licenses" not in e for e in edges)
        assert all("site" in e for e in edges)


def test_fetch_payloads_clean_status_is_null(spark):
    from vmware_sd_wan_velocloud_bi_intake_spark.sources.api import (
        build_params,
        fetch_payloads,
    )
    from vmware_sd_wan_velocloud_bi_intake_spark.sources.fake_transport import (
        FakeVcoTransport,
    )

    out = fetch_payloads(
        spark,
        endpoints=[{"vco": "vco0", "enterpriseId": 0}],
        method="enterprise/getEnterpriseEdges",
        params=build_params(projection=["site", "licenses"]),
        transport_factory=FakeVcoTransport,
        degradable=["licenses"],
    ).collect()
    assert len(out) == 1 and out[0]["status"] is None


def test_plan_layer_never_collects(spark, monkeypatch):
    """The per-entity fan-out (edges/events per enterprise, metrics per
    gateway) must be planned distributed — a driver-side collect over the
    discovered fleet is a funnel at 100x fleet size. Plan construction runs
    with DataFrame.collect forbidden, then the plans must still evaluate."""
    import pyspark.sql

    from vmware_sd_wan_velocloud_bi_intake_spark.plans.gateway import (
        bronze_gateways,
        gateway_metrics_max,
        silver_gateways,
    )
    from vmware_sd_wan_velocloud_bi_intake_spark.plans.velocloud import (
        run_pipeline,
    )
    from vmware_sd_wan_velocloud_bi_intake_spark.sources.fake_transport import (
        FakeVcoTransport,
    )

    def boom(self):
        raise AssertionError("driver-side collect in the plan layer")

    monkeypatch.setattr(pyspark.sql.DataFrame, "collect", boom)
    try:
        out = run_pipeline(spark, ["vco0", "vco1"], FakeVcoTransport)
        gws = silver_gateways(bronze_gateways(spark, ["vco0"], FakeVcoTransport))
        metrics = gateway_metrics_max(
            spark, gws, FakeVcoTransport, (1704067200000, 1704153600000)
        )
    finally:
        monkeypatch.undo()
    assert out.edges.count() == 2 * 5 * 4
    assert out.events.count() > 0
    assert metrics.count() > 0
