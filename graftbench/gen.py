"""Seeded Metlink GTFS-RT snapshot generator for ``metlink_schedule``.

The same seed gives byte-identical snapshots; the program only ever
sees the landed files. Only numpy runs here, so generating inputs never
starts a JVM. (``corpus_build`` and ``lane_mix`` read the fixed tables
under ``data/`` instead.)
"""

from __future__ import annotations

import json
import os

import numpy as np

TRAIN_PREFIXES = ("HVL", "JVL", "KPL", "MEL", "WRL", "MUL")
BUS_ROUTES = ("1", "2", "3", "7", "14", "18e", "22", "83", "110", "220", "AX", "N5")
#: 2024-01-01T07:00:00Z — the first snapshot's feed time.
SNAPSHOT_T0 = 1704092400


def _vehicle_entity(rng, eid: int, vid: str, kind: str, ts: int) -> dict:
    """One VehiclePositions entity using only the fields
    ``schemas.VEHICLE_ENTITY`` declares. ``kind`` picks the pipeline
    branch the entity exercises."""
    if kind == "ship":  # both ship triggers: QDF prefix, MIF route
        prefix = "QDF" if rng.random() < 0.5 else "MIF"
        trip_id = f"{prefix}__{rng.integers(1, 40)}"
    elif kind == "train":
        prefix = TRAIN_PREFIXES[rng.integers(len(TRAIN_PREFIXES))]
        trip_id = f"{prefix}__{rng.integers(1, 90)}__{rng.integers(100, 999)}"
    elif kind == "nosep":
        trip_id = "NOSEP" + str(rng.integers(1, 99))
    elif kind == "falsy_trip":
        trip_id = "" if rng.random() < 0.5 else None
    else:
        route = BUS_ROUTES[rng.integers(len(BUS_ROUTES))]
        trip_id = f"{route}__{rng.integers(0, 2)}__{rng.integers(100, 999)}"
    if kind == "island":
        lat, lon = 0.0, 0.0
    else:
        lat = round(-41.45 + 0.45 * float(rng.random()), 6)
        lon = round(174.6 + 0.55 * float(rng.random()), 6)
    r = rng.random()
    # Exact tenths and 0 only: JS toFixed and Java %.1f agree on them.
    speed = None if r < 0.1 else 0.0 if r < 0.25 else int(rng.integers(1, 300)) / 10
    bearing = 0.0 if rng.random() < 0.15 else float(rng.integers(1, 360))
    r = rng.random()
    if r < 0.3:
        occupancy = None
    elif r < 0.4:
        occupancy = 0
    elif r < 0.5:
        occupancy = int(rng.integers(7, 10))  # out of range: "Unknown"
    else:
        occupancy = int(rng.integers(1, 7))
    trip = {
        "trip_id": trip_id,
        "route_id": int(rng.integers(1, 999)),
        "direction_id": int(rng.integers(0, 2)),
        "start_time": f"{rng.integers(5, 23):02d}:{rng.integers(0, 60):02d}:00",
        "start_date": "20240101",
        "schedule_relationship": 0,
    }
    v = {"trip": trip, "timestamp": ts, "vehicle": {"id": vid}}
    if kind != "no_position":
        v["position"] = {"latitude": lat, "longitude": lon, "bearing": bearing}
        if speed is not None:
            v["position"]["speed"] = speed
    if occupancy is not None:
        v["occupancy_status"] = occupancy
    if rng.random() < 0.5:
        v["current_stop_sequence"] = int(rng.integers(1, 60))
        v["stop_id"] = str(rng.integers(1000, 9999))
        v["current_status"] = int(rng.integers(0, 3))
    ent = {"id": f"{ts}_{eid}"}
    if kind != "no_vehicle":
        ent["vehicle"] = v
    return ent


_KINDS = ("bus", "train", "ship", "nosep", "island", "falsy_trip", "no_vehicle", "no_position")
_KIND_P = (0.70, 0.12, 0.04, 0.02, 0.03, 0.03, 0.03, 0.03)


def snapshot(seed: int, index: int, vehicles: int) -> dict:
    """Snapshot ``index`` of a seeded feed: ``vehicles`` entities plus
    ~10% repeated vehicle ids (later, newer reports of a vehicle that
    last-wins dedup must keep)."""
    rng = np.random.default_rng([seed, index])
    ts = SNAPSHOT_T0 + 60 * index
    kinds = rng.choice(len(_KINDS), size=vehicles, p=_KIND_P)
    ents = [
        _vehicle_entity(rng, i, str(5000 + i), _KINDS[k], ts - int(rng.integers(0, 30)))
        for i, k in enumerate(kinds)
    ]
    # Repeat ~10% of ids with the same branch kind so they collide on
    # the dedup key (type + vehicle id); the repeat is the newer report.
    for j, i in enumerate(rng.choice(vehicles, size=vehicles // 10, replace=False)):
        ents.append(_vehicle_entity(rng, vehicles + j, f"{5000 + i}", _KINDS[kinds[i]], ts))
    header = {"gtfs_realtime_version": "2.0", "incrementality": 0, "timestamp": ts}
    return {"header": header, "entity": ents}


def land_snapshots(landing: str, seed: int, start: int, count: int, vehicles: int) -> list[dict]:
    """Write snapshots ``start .. start+count-1`` into ``landing`` with
    strictly increasing mtimes, so the file source's order is the
    landing order. Returns the envelopes in that order."""
    os.makedirs(landing, exist_ok=True)
    out = []
    for i in range(start, start + count):
        env = snapshot(seed, i, vehicles)
        path = os.path.join(landing, f"snapshot_{i:06d}.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump(env, f)
        mtime = SNAPSHOT_T0 + i
        os.utime(path, (mtime, mtime))
        out.append(env)
    return out
