"""Seeded OpenAQ-shaped NDJSON inputs and their ground truth.

Records follow ``schemas.MEASUREMENT_SCHEMA`` field for field. The
generator varies what the engine's behaviour depends on:

- exact re-deliveries: a reading sent again in a later hourly drop with
  the same value and a later ``extracted_at`` (the overlapping lookback);
- corrected re-deliveries: the same key in a later drop with a changed
  value;
- invalid datetimes, which the parse layer must drop;
- locations without metadata (null city, country and coordinates),
  which the enrich layer fills;
- location skew: 1 to 7 sensors per location, uneven city sizes;
- ``+07:00`` local timestamps, so local hours 00-06 land on the previous
  UTC day and every UTC partition cuts through two local days.

All draws come from ``random.Random`` seeded from the benchmark seed in a
fixed order, and files are written with fixed formatting, so one seed
gives byte-identical files.

Ground truth is derived here from the generated records, by the
semantics each workload asks of the engine, never from engine output.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from datetime import datetime, timedelta

# Mart column order (plans/mart.DEFAULT_PARAMETERS).
PARAMETERS = ["pm25", "pm10", "no2", "so2", "o3", "co", "bc"]
_UNITS = ["ug/m3", "ug/m3", "ppb", "ppb", "ppb", "ppb", "ug/m3"]
_SCALE = [30.0, 55.0, 20.0, 8.0, 35.0, 450.0, 2.5]
# (city, latitude, longitude, weight): a few big cities hold most stations
CITIES = [
    ("Hanoi", 21.03, 105.85, 8),
    ("Ho Chi Minh City", 10.78, 106.70, 6),
    ("Da Nang", 16.05, 108.22, 3),
    ("Hai Phong", 20.86, 106.68, 2),
    ("Can Tho", 10.03, 105.77, 1),
    ("Hue", 16.46, 107.59, 1),
    ("Nha Trang", 12.24, 109.19, 1),
    ("Vinh", 18.68, 105.68, 1),
]
# P(location has 1..7 sensors)
_SENSOR_WEIGHTS = [30, 25, 15, 10, 8, 6, 6]
INVALID_DATETIMES = ["", "N/A", "not-a-date", "31/02/2024 10:00"]
EPOCH = datetime(2024, 3, 1)  # UTC start of hour 0
_LOCAL = timedelta(hours=7)
# plans/mart.MartConfig.fills: what enrich writes for a location
# without metadata
FILL_CITY, FILL_COUNTRY, FILL_COORD = "Unknown", "VN", 0.0


@dataclass(frozen=True)
class Mix:
    """Shares of the input properties the engine's behaviour depends on."""

    exact: float = 0.05  # readings re-delivered unchanged in a later drop
    corrected: float = 0.01  # readings re-delivered with a new value
    invalid: float = 0.003  # extra rows whose datetime does not parse
    null_meta: float = 0.10  # locations without metadata


@dataclass(frozen=True)
class Location:
    location_id: str
    city: str | None
    latitude: float | None
    longitude: float | None
    params: tuple[int, ...]  # indices into PARAMETERS


def _apportion(items, weights, n: int) -> list:
    """``n`` items in proportion to ``weights`` (largest remainder)."""
    total = sum(weights)
    exact = [w * n / total for w in weights]
    counts = [int(e) for e in exact]
    by_remainder = sorted(range(len(exact)), key=lambda i: counts[i] - exact[i])
    for i in by_remainder[: n - sum(counts)]:
        counts[i] += 1
    return [item for item, c in zip(items, counts) for _ in range(c)]


def utc(hour: int) -> datetime:
    return EPOCH + timedelta(hours=hour)


def _local_iso(hour: int) -> str:
    return (utc(hour) + _LOCAL).strftime("%Y-%m-%dT%H:%M:%S") + "+07:00"


def _extracted_iso(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def drop_extracted_at(hour: int) -> datetime:
    """Extraction time of the hourly drop that first carries ``hour``."""
    return utc(hour + 1) + timedelta(minutes=5)


def batch_extracted_at(end_hour: int) -> datetime:
    return utc(end_hour) + timedelta(minutes=10)


def _corrected(value: str, rng: random.Random) -> str:
    v = float(value)
    new = f"{v * rng.uniform(0.7, 1.3) + 0.01:.2f}"
    return new if new != value else f"{v + 0.01:.2f}"


class Network:
    """Locations, sensors, hourly readings and the re-delivery schedule
    of one seed over ``hours`` hours starting at :data:`EPOCH`."""

    def __init__(
        self, seed: int, locations: int, hours: int, mix: Mix = Mix()
    ) -> None:
        self.seed = seed
        self.hours = hours
        self.mix = mix
        rng = random.Random(seed)
        # The skew's SHAPE is fixed (sensor counts, city sizes and the
        # metadata-less share come in exact proportions); the seed picks
        # which location gets what. Input sizes then barely move between
        # seeds, so seeds vary the data, not the amount of work.
        cities = _apportion(CITIES, [c[3] for c in CITIES], locations)
        sensors = _apportion(range(1, 8), _SENSOR_WEIGHTS, locations)
        rng.shuffle(cities)
        rng.shuffle(sensors)
        no_meta = set(rng.sample(range(locations), round(locations * mix.null_meta)))
        self.locations: list[Location] = []
        for i in range(locations):
            city, lat0, lon0, _w = cities[i]
            params = (0,) + tuple(sorted(rng.sample(range(1, 7), sensors[i] - 1)))
            lat = round(lat0 + rng.uniform(-0.2, 0.2), 4)
            lon = round(lon0 + rng.uniform(-0.2, 0.2), 4)
            if i in no_meta:
                city = lat = lon = None
            self.locations.append(
                Location(str(1000 + i), city, lat, lon, params)
            )
        self.sensors = [
            (li, p) for li, loc in enumerate(self.locations) for p in loc.params
        ]
        # canonical reading of sensor s at hour h: self.values[s][h]
        self.values: list[list[str]] = []
        for _li, p in self.sensors:
            scale = _SCALE[p] * rng.uniform(0.6, 1.6)
            self.values.append(
                [f"{scale * rng.lognormvariate(0.0, 0.5):.2f}" for _ in range(hours)]
            )
        # drop d -> [(sensor, hour, value)] re-delivered in drop d
        self.redelivered: list[list[tuple[int, int, str]]] = [
            [] for _ in range(hours)
        ]
        # drop d -> [(sensor, bad datetime, value)]
        self.invalid: list[list[tuple[int, str, str]]] = [
            [] for _ in range(hours)
        ]
        again = mix.exact + mix.corrected
        for h in range(hours):
            for s in range(len(self.sensors)):
                u = rng.random()
                if u < again:
                    d = h + rng.randint(1, 24)
                    v = self.values[s][h]
                    if u >= mix.exact:
                        v = _corrected(v, rng)
                    if d < hours:
                        self.redelivered[d].append((s, h, v))
                if rng.random() < mix.invalid:
                    self.invalid[h].append(
                        (s, rng.choice(INVALID_DATETIMES), self.values[s][h])
                    )
        self._local = [_local_iso(h) for h in range(hours)]
        self._prefix = [self._sensor_prefix(li, p) for li, p in self.sensors]
        self._suffix = [self._sensor_suffix(li, p) for li, p in self.sensors]

    # -- records ---------------------------------------------------------
    def _sensor_prefix(self, li: int, p: int) -> str:
        loc = self.locations[li]
        return (
            f'{{"location_id": "{loc.location_id}", '
            f'"sensor_id": {int(loc.location_id) * 10 + p}, '
            f'"location_name": "Station {loc.location_id}", "datetime": "'
        )

    def _sensor_suffix(self, li: int, p: int) -> tuple[str, str]:
        loc = self.locations[li]
        if loc.city is None:
            meta = '"city": null, "country": null, "latitude": null, "longitude": null'
        else:
            meta = (
                f'"city": "{loc.city}", "country": "VN", '
                f'"latitude": {loc.latitude}, "longitude": {loc.longitude}'
            )
        return (
            f'", "parameter": "{PARAMETERS[p]}", "value": ',
            f', "unit": "{_UNITS[p]}", {meta}, '
            '"timezone": "Asia/Ho_Chi_Minh", "extracted_at": "',
        )

    def _line(self, s: int, dt: str, value: str, extracted: str) -> str:
        mid, tail = self._suffix[s]
        return self._prefix[s] + dt + mid + value + tail + extracted + '"}'

    def drop_lines(self, d: int) -> list[str]:
        """The hourly drop extracted after hour ``d``: that hour's
        readings, the re-deliveries scheduled into it, and rows with
        unparseable datetimes."""
        x = _extracted_iso(drop_extracted_at(d))
        out = [
            self._line(s, self._local[d], self.values[s][d], x)
            for s in range(len(self.sensors))
        ]
        out += [self._line(s, self._local[h], v, x) for s, h, v in self.redelivered[d]]
        out += [self._line(s, bad, v, x) for s, bad, v in self.invalid[d]]
        return out

    def batch_lines(self, end_hour: int, tag: str) -> list[str]:
        """A 24h-lookback re-delivery extracted at ``end_hour``: every
        reading of hours [end_hour - 24, end_hour), 2% of them with a
        corrected value and 1% sent twice. Draws are seeded by the
        benchmark seed and ``tag``."""
        rng = random.Random(f"{self.seed}-{tag}")
        x = _extracted_iso(batch_extracted_at(end_hour))
        out = []
        for h in range(end_hour - 24, end_hour):
            for s in range(len(self.sensors)):
                v = self.values[s][h]
                if rng.random() < 0.02:
                    v = _corrected(v, rng)
                line = self._line(s, self._local[h], v, x)
                out.append(line)
                if rng.random() < 0.01:
                    out.append(line)
        return out

    # -- files -----------------------------------------------------------
    def write_raw_zone(self, root: str, drops: range) -> int:
        """Write drops as ``root/YYYY/MM/DD/HH/measurements.json`` (UTC
        hour of the drop); returns the bytes written."""
        total = 0
        for d in drops:
            t = utc(d)
            sub = os.path.join(
                root, f"{t.year}", f"{t.month:02d}", f"{t.day:02d}", f"{t.hour:02d}"
            )
            total += write_lines(os.path.join(sub, "measurements.json"), self.drop_lines(d))
        return total

    # -- ground truth ----------------------------------------------------
    def etl_readings(self, drops: range) -> dict[tuple[int, int], dict[int, float]]:
        """(location, hour) -> {parameter: value} of the mart that the
        drops in ``drops`` (starting at 0) build: one reading per
        (location, hour, parameter), the smallest value delivered wins
        (MartConfig's default dedup tiebreaker), invalid rows dropped."""
        best: dict[tuple[int, int], dict[int, float]] = {}
        for d in drops:
            for s, (li, p) in enumerate(self.sensors):
                best.setdefault((li, d), {})[p] = float(self.values[s][d])
            for s, h, v in self.redelivered[d]:
                li, p = self.sensors[s]
                row = best[(li, h)]
                row[p] = min(row[p], float(v))
        return best

    def apply_batch(
        self,
        readings: dict[tuple[int, int], dict[int, float]],
        end_hour: int,
        tag: str,
    ) -> None:
        """Fold a lookback batch into ``readings`` the way the merge
        must: every (location, hour) the batch carries takes the
        batch's values (duplicate lines carry the same value)."""
        rng = random.Random(f"{self.seed}-{tag}")
        for h in range(end_hour - 24, end_hour):
            for s, (li, p) in enumerate(self.sensors):
                v = self.values[s][h]
                if rng.random() < 0.02:
                    v = _corrected(v, rng)
                readings.setdefault((li, h), {})[p] = float(v)
                rng.random()  # the duplicate-line draw of batch_lines

    def mart_rows(
        self, readings: dict[tuple[int, int], dict[int, float]]
    ) -> list[tuple]:
        """Wide mart rows in schemas.MART_SCHEMA column order."""
        rows = []
        for (li, h), vals in sorted(readings.items()):
            loc = self.locations[li]
            t = utc(h)
            rows.append(
                (
                    loc.location_id,
                    t,
                    f"{t.year}",
                    f"{t.month:02d}",
                    f"{t.day:02d}",
                    *[vals.get(p) for p in range(len(PARAMETERS))],
                    loc.city if loc.city is not None else FILL_CITY,
                    FILL_COUNTRY,
                    loc.latitude if loc.latitude is not None else FILL_COORD,
                    loc.longitude if loc.longitude is not None else FILL_COORD,
                )
            )
        return rows

    def hour_values(self, hour: int, drops: int) -> list[float]:
        """Every sensor's reading of ``hour`` in the keyed table after
        drops 0..drops-1 were upserted: the latest re-delivery wins."""
        vals = [float(v[hour]) for v in self.values]
        for d in range(hour + 1, min(drops, len(self.redelivered))):
            for s, h, v in self.redelivered[d]:
                if h == hour:
                    vals[s] = float(v)
        return vals

    def snapshot_rows(self, drops: int) -> list[tuple]:
        """Keyed table after drops 0..drops-1 were upserted in order:
        per (location, datetime, parameter) the reading with the latest
        ``extracted_at``. Rows are (location_id, datetime, parameter,
        value, extracted_at)."""
        latest: dict[tuple[int, int], tuple[str, int]] = {}
        for d in range(drops):
            for s in range(len(self.sensors)):
                latest[(s, d)] = (self.values[s][d], d)
            for s, h, v in self.redelivered[d]:
                latest[(s, h)] = (v, d)
        rows = []
        for (s, h), (v, d) in sorted(latest.items()):
            li, p = self.sensors[s]
            rows.append(
                (
                    self.locations[li].location_id,
                    utc(h),
                    PARAMETERS[p],
                    float(v),
                    drop_extracted_at(d),
                )
            )
        return rows


def write_lines(path: str, lines: list[str]) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)
