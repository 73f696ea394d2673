"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same arguments write byte-identical files (pyarrow's parquet writer and
plain-text writes are deterministic), so a run can be replayed exactly.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# sensor_queries: an `events` table in the testdata schema.

EVENT_TYPES = ("click", "view", "purchase", "error", "signup")
_JAN_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 UTC in µs
_DAY_US = 86_400_000_000


def write_events(
    out_dir: str, seed: int, n_rows: int, n_users: int, row_group_rows: int
) -> str:
    """Write `<out_dir>/events.parquet` (event_id, ts, user_id,
    event_type, value, props) with January-2024 timestamps spanning
    2024-01-01 .. 2024-01-30T23:59, so the parity operators' fixed
    AS_OF "last hour" window is populated. Returns the file path."""
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_rows)) + _JAN_2024_US
    kinds = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_rows)]
    k = rng.integers(0, 100, n_rows)
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_rows), type=pa.int64()),
            "event_type": pa.array(kinds.tolist(), type=pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n_rows), 2)),
            "props": pa.array([f'{{"k": {int(x)}}}' for x in k], type=pa.string()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "events.parquet")
    pq.write_table(table, path, row_group_size=row_group_rows)
    return path


# --------------------------------------------------------------------------
# sensor_ingest: Measurements-shaped TSV plus latest-wins corrections.

ROOM_FILES = ("Kitchen", "Room1", "Room2", "Room3", "Bathroom", "Toilet")
SENSOR_FILES = ("Temperature", "Humidity", "Brightness")
_FEB_2024_S = 1_706_745_600  # 2024-02-01T00:00:00 UTC
_STRIDE_S = 180  # one reading per sensor every 3 minutes

READINGS_COLUMNS = ("room", "entityid", "temperature", "humidity", "brightness", "ts")
_READINGS_ARROW = pa.schema(
    [
        ("room", pa.string()),
        ("entityid", pa.string()),
        ("temperature", pa.float64()),
        ("humidity", pa.int32()),
        ("brightness", pa.float64()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass
class MeasurementTallies:
    """What the generator wrote: line counts and the valid readings."""

    rows_in: int = 0  # every line, blank and malformed ones included
    blank: int = 0
    garbage: int = 0
    non_numeric: int = 0
    valid: dict = field(default_factory=dict)  # entityid -> reading tuple

    @property
    def rows_valid(self) -> int:
        return len(self.valid)


def _entity_id(room: str, epoch_s: int) -> str:
    return f"{room}_{time.strftime('%Y-%m-%d %H:%M:%S', time.gmtime(epoch_s))}"


def _sensor_value(rng: np.random.Generator, sensor: str, n: int) -> np.ndarray:
    if sensor == "Temperature":
        return np.round(rng.normal(21.0, 3.0, n), 2)
    if sensor == "Humidity":
        return rng.integers(20, 91, n).astype(np.float64)
    return np.round(rng.uniform(0.0, 800.0, n), 2)


def _reading(room: str, sensor: str, epoch_s: int, value: float) -> tuple:
    return (
        room,
        value if sensor == "Temperature" else None,
        int(value) if sensor == "Humidity" else None,
        value if sensor == "Brightness" else None,
        epoch_s,
    )


def write_measurements(
    out_dir: str, seed: int, rows_per_file: int, bad_per_kind: int
) -> MeasurementTallies:
    """Write the 18 `{Room}_{Sensor}.csv` files (headerless
    epoch<TAB>value) with `bad_per_kind` blank, garbage and non-numeric
    lines per file at seeded positions. Epochs are distinct per room
    across sensors, so every valid line becomes a distinct entityid."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tallies = MeasurementTallies()
    for room in ROOM_FILES:
        for s_idx, sensor in enumerate(SENSOR_FILES):
            epochs = _FEB_2024_S + _STRIDE_S * np.arange(rows_per_file) + s_idx
            values = _sensor_value(rng, sensor, rows_per_file)
            fmt = "{}\t{:.0f}" if sensor == "Humidity" else "{}\t{:.2f}"
            lines = [fmt.format(int(e), v) for e, v in zip(epochs, values)]
            bad = (
                [""] * bad_per_kind
                + ["garbage-line-without-tab"] * bad_per_kind
                + [f"{int(e)}\tn/a" for e in rng.choice(epochs, bad_per_kind)]
            )
            for line in bad:
                lines.insert(int(rng.integers(0, len(lines) + 1)), line)
            with open(os.path.join(out_dir, f"{room}_{sensor}.csv"), "w") as f:
                f.write("\n".join(lines) + "\n")
            tallies.rows_in += len(lines)
            tallies.blank += bad_per_kind
            tallies.garbage += bad_per_kind
            tallies.non_numeric += bad_per_kind
            low = room.lower()
            for e, v in zip(epochs.tolist(), values.tolist()):
                tallies.valid[_entity_id(low, e)] = _reading(low, sensor, e, v)
    return tallies


def write_corrections(
    out_dir: str,
    seed: int,
    base: MeasurementTallies,
    n_batches: int,
    updates_per_batch: int,
    inserts_per_batch: int,
    rooms_per_batch: int,
) -> tuple[list[str], list[dict]]:
    """Write `n_batches` correction batches, each its own parquet file
    in the readings schema: corrected values for existing keys plus new
    keys, confined to `rooms_per_batch` seeded rooms. Keys are unique
    within a batch; a key corrected by several batches ends with the
    last batch's value (latest wins). Returns the file paths and, per
    batch, the expected table state after applying batches 0..j."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    rooms = [r.lower() for r in ROOM_FILES]
    by_room: dict[str, list[str]] = {r: [] for r in rooms}
    for key, row in base.valid.items():
        by_room[row[0]].append(key)
    for keys in by_room.values():
        keys.sort()
    rows_per_room = len(by_room[rooms[0]]) // len(SENSOR_FILES)
    state = dict(base.valid)
    paths, states = [], []
    for j in range(n_batches):
        picked = sorted(rng.choice(len(rooms), rooms_per_batch, replace=False))
        batch: dict[str, tuple] = {}
        for r_idx in picked:
            room = rooms[r_idx]
            n_up = updates_per_batch // rooms_per_batch
            for i in rng.choice(len(by_room[room]), n_up, replace=False):
                key = by_room[room][i]
                old = state[key]
                sensor = SENSOR_FILES[next(s for s in range(3) if old[1 + s] is not None)]
                value = float(_sensor_value(rng, sensor, 1)[0])
                batch[key] = _reading(room, sensor, old[4], value)
            n_new = inserts_per_batch // rooms_per_batch
            for i in rng.choice(rows_per_room, n_new, replace=False):
                # offset 3 within the stride is never used by the base load
                epoch = _FEB_2024_S + _STRIDE_S * int(i) + 3
                sensor = SENSOR_FILES[int(rng.integers(0, len(SENSOR_FILES)))]
                value = float(_sensor_value(rng, sensor, 1)[0])
                batch[_entity_id(room, epoch)] = _reading(room, sensor, epoch, value)
        path = os.path.join(out_dir, f"corrections_{j:03d}.parquet")
        pq.write_table(_readings_table(batch), path)
        paths.append(path)
        state.update(batch)
        states.append(dict(state))
    return paths, states


def _readings_table(rows: dict[str, tuple]) -> pa.Table:
    keys = sorted(rows)
    cols = list(zip(*(rows[k] for k in keys)))
    return pa.table(
        [
            pa.array(cols[0], pa.string()),
            pa.array(keys, pa.string()),
            pa.array(cols[1], pa.float64()),
            pa.array(cols[2], pa.int32()),
            pa.array(cols[3], pa.float64()),
            pa.array([e * 1_000_000 for e in cols[4]], pa.timestamp("us", tz="UTC")),
        ],
        schema=_READINGS_ARROW,
    )


# --------------------------------------------------------------------------
# sensor_ingest: NGSI-LD notification files for the streaming drain.


@dataclass
class NotificationFile:
    name: str
    lines: list[str]  # one notification per line, `observedAt` = "{due}"

    def render(self, due_iso: str) -> str:
        return "\n".join(line.replace("{due}", due_iso) for line in self.lines) + "\n"


def notification_files(
    seed: int, n_files: int, per_file: int, prefix: str
) -> tuple[list[NotificationFile], dict[str, list[float]]]:
    """`n_files` files of `per_file` notifications, one entity each.
    Temperatures are multiples of 0.25, so per-room sums are exact in
    any summation order. Returns the files and, per room, the
    [count, temperature sum] the warehouse must end up holding."""
    rng = np.random.default_rng(seed)
    tallies: dict[str, list[float]] = {r.lower(): [0, 0.0] for r in ROOM_FILES}
    files = []
    for i in range(n_files):
        rooms = rng.integers(0, len(ROOM_FILES), per_file)
        temps = rng.integers(40, 120, per_file) / 4.0
        hums = rng.integers(20, 91, per_file)
        lines = []
        for n, (r, t, h) in enumerate(zip(rooms.tolist(), temps.tolist(), hums.tolist())):
            room = ROOM_FILES[r]
            tallies[room.lower()][0] += 1
            tallies[room.lower()][1] += t
            note = {
                "id": f"urn:ngsi-ld:Notification:{prefix}-{i}-{n}",
                "type": "Notification",
                "subscriptionId": "urn:ngsi-ld:Subscription:bench",
                "data": [
                    {
                        "id": f"urn:ngsi-ld:{room}:{prefix}-{i}-{n}",
                        "type": room,
                        "temperature": {
                            "type": "Property", "value": t, "observedAt": "{due}",
                        },
                        "humidity": {
                            "type": "Property", "value": h, "observedAt": "{due}",
                        },
                    }
                ],
            }
            lines.append(json.dumps(note, separators=(",", ":")))
        files.append(NotificationFile(f"{prefix}-{i:05d}.json", lines))
    return files, tallies


def drop_file(in_dir: str, nf: NotificationFile, due_iso: str) -> None:
    """Write under a hidden name, then rename into place, so the stream
    never lists a half-written file."""
    hidden = os.path.join(in_dir, "." + nf.name + ".tmp")
    with open(hidden, "w") as f:
        f.write(nf.render(due_iso))
    os.rename(hidden, os.path.join(in_dir, nf.name))


def iso_ms(epoch_s: float) -> str:
    ms = int(round(epoch_s * 1000))
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(ms // 1000)) + f".{ms % 1000:03d}Z"
