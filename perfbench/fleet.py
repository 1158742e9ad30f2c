"""Seeded, tick-aware VeloCloud fleet for the ``intake`` workload.

Built on the package's offline transport (``sources/fake_transport``): the
entity shapes, nesting and md5-derived attributes are the shipped ones, but
every edge and link key carries its VCO, so a fleet of several VCOs yields
globally unique keys (the shipped ``make_edge`` keys an edge as
``edge-{enterprise}-{idx}``, which repeats in every VCO).

One tick is one scheduled run of the intake. Its cadences follow the
reference's operational parameters (BASELINE.md):

- one tick is one day: the reference recomputes customer attributes with
  probability 0.1 per run, "~1 in 10 days" (``powerbi_main_fun.py:271-272``),
  so it runs daily; its 20 h customer refresh (``fun_mysql_query.py:24``)
  is shorter than a tick, so every tick rewrites every customer rollup;
- each tick asks for the last 15 days of events
  (``powerbi_main_fun.py:470-472``), so consecutive windows overlap by
  14 days and the insert-ignore events sink meets re-served events on
  every tick after the first;
- each edge is refreshed every 8 days (``fun_mysql_query.py:47``), on a
  seeded phase, so about 1/8 of the edges change per tick. *Assumption,
  unverified:* a refreshed edge always has a new state and last contact
  (the reference only sees a change when it refreshes, so this is the most
  change it can see).

Two rates have no source in the reference and are *assumptions,
unverified*: the fleet growth per tick (:data:`NEW_ENTERPRISES` per VCO,
:data:`NEW_EDGES` per enterprise) and the event rate
(:data:`EVENTS_PER_DAY` per enterprise). The starting size,
4 VCOs x 100 enterprises x 40 edges, is the workload's own.

Everything is a pure function of ``(seed, tick)``, so the benchmark can
compute what was served and what the target tables must hold after any
number of ticks without asking the program.
"""

from __future__ import annotations

import datetime

from vmware_sd_wan_velocloud_bi_intake_spark.plans.velocloud import EVENTS_TO_SKIP
from vmware_sd_wan_velocloud_bi_intake_spark.sources.fake_transport import (
    STATES,
    FakeVcoTransport,
    _h,
    _ms_to_iso,
    _pick,
    make_edge,
    make_enterprise,
)

N_VCOS = 4
N_ENTERPRISES = 100
N_EDGES = 40
NEW_ENTERPRISES = 2  # per VCO per tick; assumption
NEW_EDGES = 1  # per enterprise per tick; assumption
EVENTS_PER_DAY = 2  # per enterprise; assumption
EDGE_REFRESH_DAYS = 8
LOOKBACK_DAYS = 15
DAY_MS = 24 * 3600 * 1000
EPOCH_MS = 1704067200000  # 2024-01-01T00:00:00Z, the start of tick 0's day
EVENT_NAMES = ["EDGE_UP", "EDGE_DOWN", "LINK_ALIVE", "BADCONFIG"]
FULL_PROJECTION = ["site", "recentLinks", "licenses"]
VCOS = [f"vco{v}" for v in range(N_VCOS)]


def enterprises_at(tick: int) -> int:
    return N_ENTERPRISES + max(tick, 0) * NEW_ENTERPRISES


def edges_at(tick: int) -> int:
    return N_EDGES + max(tick, 0) * NEW_EDGES


def interval(tick: int) -> tuple[int, int]:
    """The events lookback of tick ``tick``: the 15 days ending with its
    own day."""
    end = EPOCH_MS + (tick + 1) * DAY_MS
    return end - LOOKBACK_DAYS * DAY_MS, end


def _refreshed_at(seed: int, key: str, tick: int) -> int:
    """Latest tick in ``1 .. tick`` on which the edge was refreshed (0 =
    never): every 8th tick from a seeded phase."""
    phase = _h(f"{seed}:{key}:phase") % EDGE_REFRESH_DAYS
    latest = tick - (tick - phase) % EDGE_REFRESH_DAYS
    return latest if latest >= 1 else 0


def fleet_edge(
    seed: int, vco: str, ent: int, idx: int, tick: int, projection
) -> dict:
    edge = make_edge(ent, idx, projection)
    edge["logicalId"] = f"edge-{vco}-{ent}-{idx}"
    edge["name"] = f"Edge {vco} {ent}-{idx}"
    for li, link in enumerate(edge.get("recentLinks", [])):
        link["internalId"] = f"link-{vco}-{ent}-{idx}-{li}"
    refreshed = _refreshed_at(seed, edge["logicalId"], tick)
    if refreshed:
        vkey = f"{seed}:{edge['logicalId']}:v{refreshed}"
        edge["edgeState"] = _pick(vkey + ":st", STATES)
        day = EPOCH_MS + refreshed * DAY_MS
        edge["lastContact"] = _ms_to_iso(day + _h(vkey + ":lc") % DAY_MS)
    return edge


def fleet_events(seed: int, vco: str, ent: int, tick: int) -> list[dict]:
    """The enterprise's events inside tick ``tick``'s lookback."""
    days = range(tick - LOOKBACK_DAYS + 1, tick + 1)
    return [ev for day in days for ev in _day_events(seed, vco, ent, day)]


def _day_events(seed: int, vco: str, ent: int, day: int) -> list[dict]:
    """The enterprise's events of one day, the same whichever tick serves
    them; none before the enterprise exists."""
    if ent >= enterprises_at(day):
        return []
    slot = DAY_MS // EVENTS_PER_DAY
    out = []
    for i in range(EVENTS_PER_DAY):
        key = f"{seed}:{vco}:{ent}:d{day}:{i}"
        start = EPOCH_MS + day * DAY_MS + i * slot
        out.append(
            {
                "eventTime": _ms_to_iso(start + _h(key + ":t") % slot),
                "event": _pick(key + ":ev", EVENT_NAMES),
                "edgeLogicalId": f"edge-{vco}-{ent}-{_h(key + ':e') % edges_at(day)}",
            }
        )
    return out


class FleetTransport(FakeVcoTransport):
    """Transport serving the fleet as it stands at ``tick``."""

    def __init__(self, seed: int, tick: int):
        super().__init__(enterprises_at(tick), edges_at(tick))
        self.seed = seed
        self.tick = tick

    def __call__(self, method: str, params: dict) -> object:
        endpoint = params.get("endpoint", {})
        vco = endpoint.get("vco", "vco0")
        ent = endpoint.get("enterpriseId", 0)
        if method == "enterprise/getEnterprises":
            return [make_enterprise(vco, i) for i in range(self.n_enterprises)]
        if method == "enterprise/getEnterpriseEdges":
            projection = params.get("with", [])
            return [
                fleet_edge(self.seed, vco, ent, i, self.tick, projection)
                for i in range(self.n_edges)
            ]
        if method == "event/getEnterpriseEvents":
            window = params.get("interval", {"start": 0, "end": 10**15})
            return {
                "data": [
                    e
                    for e in fleet_events(self.seed, vco, ent, self.tick)
                    if window["start"] <= _iso_ms(e["eventTime"]) < window["end"]
                ]
            }
        return super().__call__(method, params)


class TransportFactory:
    """Picklable zero-argument factory, as ``run_pipeline`` expects."""

    def __init__(self, seed: int, tick: int):
        self.seed = seed
        self.tick = tick

    def __call__(self) -> FleetTransport:
        return FleetTransport(self.seed, self.tick)


def _iso_ms(iso: str) -> int:
    dt = datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.000Z")
    return int(dt.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000)


def records_served(seed: int, tick: int) -> int:
    """Edge plus event records the fleet serves in one tick."""
    return sum(
        edges_at(tick) + len(fleet_events(seed, vco, ent, tick))
        for vco in VCOS
        for ent in range(enterprises_at(tick))
    )


def expected_tables(seed: int, ticks: int) -> dict[str, dict]:
    """What each target table must hold after ticks ``0 .. ticks-1``:
    key -> checked values. The fleet only grows, so the last tick serves
    every edge and customer, with its latest values; the events table holds
    the keys of every non-skipped event any tick served."""
    last = ticks - 1
    edge, links, customer, events = {}, {}, {}, {}
    for vco in VCOS:
        for ent in range(enterprises_at(last)):
            connected = []
            for idx in range(edges_at(last)):
                e = fleet_edge(seed, vco, ent, idx, last, FULL_PROJECTION)
                uuid, state = e["logicalId"], e["edgeState"]
                edge[uuid] = (state, e["lastContact"])
                for lk in e["recentLinks"]:
                    links[f"{uuid}-{lk['internalId']}"] = (
                        uuid,
                        lk["networkType"],
                        lk["backupState"],
                    )
                if state == "CONNECTED":
                    connected.append(e)
            customer[(vco, ent)] = _rollup(connected)
            for day in range(1 - LOOKBACK_DAYS, ticks):
                for ev in _day_events(seed, vco, ent, day):
                    if ev["event"] not in EVENTS_TO_SKIP:
                        key = (ev["eventTime"][:7], ev["edgeLogicalId"], ev["event"])
                        events[key] = ()
    return {"edge": edge, "links": links, "customer": customer, "events": events}


def _rollup(connected: list[dict]) -> tuple:
    """The gold customer rollup over the customer's connected edges:
    n_connected_edges, any_wireless, any_backup, any_active_license,
    max_links_per_edge."""
    links = [e["recentLinks"] for e in connected]
    return (
        len(connected),
        int(any(lk["networkType"] == "WIRELESS" for ls in links for lk in ls)),
        int(any(lk["backupState"] != "UNCONFIGURED" for ls in links for lk in ls)),
        int(any(lic["active"] for e in connected for lic in e["licenses"])),
        max((len(ls) for ls in links), default=0),
    )
