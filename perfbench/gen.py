"""Seeded input generators for the benchmark.

Both generators are pure functions of ``(seed, size)``: the same pair
always yields byte-identical files. The benchmark caches their output
under the work directory keyed by ``(kind, seed, size)`` so generation
never lands inside a timed region; the program under test only ever sees
the generated files.

AIS (FIXTURES.md F1/F1a/F1b): NOAA-shaped CSV, one file per nominal day
plus one re-ingest file of duplicated rows. Timestamps mix the F1a
formats; about 1% of rows are junk (NULL MMSI, unparsable time stamps,
out-of-range coordinates); about 20% of rows are vessels anchored in 10
port cells; a few vessel pairs move together cell by cell on both days.

Documents: JSON lines ``{"id", "text"}`` with stopword-bearing prose,
boilerplate lines that ``clean_lines`` drops, planted PII, a planted
share of documents that ``quality_filter`` must reject, and about 10%
exact duplicates of kept documents.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass, field

import numpy as np

#: Square-grid cell edge at resolution 7 (degrees), as
#: ``functions.geo.grid_cell`` computes it. Planted pairs sit at cell
#: centres so both vessels land in one cell whichever encoder is active.
CELL_DEG = 1.4080 / 2.0**7

DAY0 = np.datetime64("2025-01-01T00:00:00", "s")
AIS_DAYS = 2
AIS_HEADER = "MMSI,BaseDateTime,LAT,LON,SOG,COG,Heading,VesselName,VesselType\n"
PORTS = 10
PORT_ROW_SHARE = 0.2
JUNK_SHARE = 0.01
DUP_SHARE = 0.01
PLANTED_PAIRS = 6


@dataclass
class AisMeta:
    seed: int
    rows: int
    raw_rows: int = 0
    raw_bytes: int = 0
    #: rows with a MMSI and a parsable time stamp: what ``to_silver`` keeps
    valid_rows: int = 0
    #: rows that also have in-range coordinates: what the hourly rollup sees
    gold_rows: int = 0
    vessels: list[str] = field(default_factory=list)
    planted_pairs: list[list[str]] = field(default_factory=list)
    files: list[str] = field(default_factory=list)

    @property
    def valid_share(self) -> float:
        return self.valid_rows / self.raw_rows


@dataclass
class DocMeta:
    seed: int
    docs: int
    raw_bytes: int = 0
    #: docs planted to pass ``quality_filter`` (duplicates included)
    quality_pass: int = 0
    #: exact copies of a passing doc
    duplicates: int = 0
    files: list[str] = field(default_factory=list)

    @property
    def kept_share(self) -> float:
        return self.quality_pass / self.docs

    @property
    def final_docs(self) -> int:
        return self.quality_pass - self.duplicates


def _fmt_times(rng: np.random.Generator, utc: np.ndarray) -> list[str]:
    """Render UTC epoch seconds in the F1a mix of spellings."""
    kind = rng.choice(5, size=utc.size, p=[0.6, 0.15, 0.1, 0.1, 0.05]).tolist()
    iso = np.datetime_as_string(DAY0 + utc.astype("timedelta64[s]")).tolist()
    # the -0500 spelling shows local wall time, five hours behind UTC
    west = np.datetime_as_string(
        DAY0 + (utc - 5 * 3600).astype("timedelta64[s]")
    ).tolist()
    out = []
    for k, s, w in zip(kind, iso, west):
        if k == 0:
            out.append(s.replace("T", " "))
        elif k == 1:
            out.append(s)
        elif k == 2:
            out.append(s.replace("T", " ") + "Z")
        elif k == 3:
            out.append(s + "+00:00")
        else:
            out.append(w.replace("T", " ") + "-0500")
    return out


def _cell_centre(x: np.ndarray, offset: float) -> np.ndarray:
    return (np.floor((x + offset) / CELL_DEG) + 0.5) * CELL_DEG - offset


def generate_ais(seed: int, rows: int, out_dir: str) -> AisMeta:
    """Write ``rows`` (approximately) raw AIS rows over 2 days into
    ``out_dir`` and return what the checks need to know about them."""
    rng = np.random.default_rng([seed, 1])
    horizon = AIS_DAYS * 86400
    n_vessels = max(60, rows // 150)
    mmsi = 200_000_000 + rng.choice(600_000_000, n_vessels, replace=False)
    per_vessel = rows / n_vessels

    parts_uid, parts_t, parts_lat, parts_lon, parts_sog = [], [], [], [], []

    # Planted co-moving pairs: both vessels report at the same cell centre
    # every hour of an 8-hour leg on each day, moving one cell per hour.
    pair_ids = mmsi[: 2 * PLANTED_PAIRS].reshape(PLANTED_PAIRS, 2)
    planted = []
    for p, (a, b) in enumerate(pair_ids.tolist()):
        planted.append(sorted([str(a), str(b)]))
        lat0 = 30.0 + 2.0 * p + rng.uniform(0, 1)
        lon0 = -120.0 + 5.0 * p + rng.uniform(0, 1)
        for day in range(AIS_DAYS):
            hours = day * 24 + 6 + np.arange(8)
            step = np.arange(8) + 8 * day
            lat_c = _cell_centre(lat0 + step * CELL_DEG, 90.0)
            lon_c = _cell_centre(lon0 + step * CELL_DEG, 180.0)
            # vessel a reports 6x per hour, b 2x (a dense/sparse pair)
            for uid, per_hour in ((a, 6), (b, 2)):
                t = (hours[:, None] * 3600 + rng.integers(0, 3600, (8, per_hour))).ravel()
                n = t.size
                parts_uid.append(np.full(n, uid))
                parts_t.append(t)
                parts_lat.append(np.repeat(lat_c, per_hour) + rng.uniform(-1e-4, 1e-4, n))
                parts_lon.append(np.repeat(lon_c, per_hour) + rng.uniform(-1e-4, 1e-4, n))
                parts_sog.append(np.full(n, 8.0) + rng.uniform(-0.5, 0.5, n))

    # Port residents: ~20% of rows anchored inside one of 10 port cells.
    rest = mmsi[2 * PLANTED_PAIRS:]
    n_port_vessels = int(round(PORT_ROW_SHARE * n_vessels))
    port_lat = _cell_centre(rng.uniform(25.0, 45.0, PORTS), 90.0)
    port_lon = _cell_centre(rng.uniform(-125.0, -70.0, PORTS), 180.0)
    counts = rng.poisson(per_vessel, rest.size).clip(min=5)
    for i, uid in enumerate(rest.tolist()):
        n = int(counts[i])
        t = np.sort(rng.integers(0, horizon, n))
        if i < n_port_vessels:
            port = i % PORTS
            lat = port_lat[port] + rng.uniform(-0.4, 0.4, n) * CELL_DEG
            lon = port_lon[port] + rng.uniform(-0.4, 0.4, n) * CELL_DEG
            sog = rng.uniform(0.0, 0.5, n)
        else:
            lat0, lon0 = rng.uniform(20.0, 50.0), rng.uniform(-130.0, -60.0)
            vlat, vlon = rng.normal(0.0, 0.05, 2)  # degrees per hour
            lat = lat0 + vlat * t / 3600.0
            lon = lon0 + vlon * t / 3600.0
            sog = np.abs(rng.normal(10.0, 4.0, n))
        parts_uid.append(np.full(n, uid))
        parts_t.append(t)
        parts_lat.append(lat)
        parts_lon.append(lon)
        parts_sog.append(sog)

    uid = np.concatenate(parts_uid)
    t = np.concatenate(parts_t)
    lat = np.round(np.concatenate(parts_lat), 5)
    lon = np.round(np.concatenate(parts_lon), 5)
    sog = np.round(np.concatenate(parts_sog), 1)
    n = uid.size
    cog = np.round(rng.uniform(0, 360, n), 1)
    heading = rng.integers(0, 360, n)
    vtype = 60 + (uid % 30)

    times = _fmt_times(rng, t)
    uid_s = uid.astype(str).tolist()

    # Junk: a third NULL ids, a third unparsable stamps, a third bad coords
    # (bad coords survive silver, the rollup's coordinate filter drops them).
    # Planted-pair rows stay clean so every pair keeps its evidence.
    planted_rows = sum(p.size for p in parts_uid[: 2 * PLANTED_PAIRS * AIS_DAYS])
    junk = planted_rows + rng.choice(n - planted_rows, int(JUNK_SHARE * n), replace=False)
    bad_stamps = ["not-a-date", "", "2025-13-45 99:99:99"]
    lat_s = lat.astype(str).tolist()
    lon_s = lon.astype(str).tolist()
    no_id = np.zeros(n, bool)
    no_ts = np.zeros(n, bool)
    bad_xy = np.zeros(n, bool)
    for j, r in enumerate(junk.tolist()):
        kind = j % 3
        if kind == 0:
            uid_s[r] = ""
            no_id[r] = True
        elif kind == 1:
            times[r] = bad_stamps[j % len(bad_stamps)]
            no_ts[r] = True
        else:
            lat_s[r] = "91.5" if j % 2 else "-123.0"
            lon_s[r] = "200.0" if j % 4 == 2 else lon_s[r]
            bad_xy[r] = True

    lines = [
        f"{uid_s[i]},{times[i]},{lat_s[i]},{lon_s[i]},{sog[i]},{cog[i]},"
        f"{heading[i]},VESSEL {uid_s[i][-4:] or 'NA'},{vtype[i]}\n"
        for i in range(n)
    ]
    day_of = (t // 86400).clip(0, AIS_DAYS - 1)
    dups = rng.choice(n, int(DUP_SHARE * n), replace=False)

    os.makedirs(out_dir, exist_ok=True)
    meta = AisMeta(seed=seed, rows=rows)
    bodies = [[lines[i] for i in np.flatnonzero(day_of == d).tolist()] for d in range(AIS_DAYS)]
    bodies.append([lines[i] for i in np.sort(dups).tolist()])
    names = [f"ais_2025_01_{d + 1:02d}.csv" for d in range(AIS_DAYS)] + ["ais_reingest.csv"]
    for name, body in zip(names, bodies):
        data = (AIS_HEADER + "".join(body)).encode()
        path = os.path.join(out_dir, name)
        with open(path, "wb") as fh:
            fh.write(data)
        meta.files.append(path)
        meta.raw_bytes += len(data)

    valid = ~no_id & ~no_ts
    weight = np.ones(n, np.int64)
    np.add.at(weight, dups, 1)
    meta.raw_rows = int(weight.sum())
    meta.valid_rows = int(weight[valid].sum())
    meta.gold_rows = int(weight[valid & ~bad_xy].sum())
    meta.vessels = [str(v) for v in mmsi.tolist()]
    meta.planted_pairs = planted
    return meta


_CONTENT = (
    "vessel harbor signal voyage cargo tanker anchor current weather "
    "channel coastal offshore survey engine captain ferry route northern "
    "southern station market report season change system network energy "
    "research process project public policy service program history "
    "culture science nature water island river mountain valley forest "
    "garden village center museum library school student teacher "
    "morning evening winter summer spring autumn"
).split()
_STOP = ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for")
_BOILER = ("Home | About", "Click here", "Share", "Menu", "Cookie policy", "Next »")


def _sentence(rng: np.random.Generator, words: int, stop: bool) -> str:
    pool = _CONTENT
    toks = [pool[k] for k in rng.integers(0, len(pool), words).tolist()]
    if stop:
        for pos in rng.choice(words, max(2, words // 4), replace=False).tolist():
            toks[pos] = _STOP[int(rng.integers(0, len(_STOP)))]
    toks[0] = toks[0].capitalize()
    return " ".join(toks) + "."


def _pii(rng: np.random.Generator) -> str:
    """One line of planted PII; stopword-free, so it cannot lift a
    stopword-free document over the quality filter's stopword floor."""
    k = int(rng.integers(0, 3))
    if k == 0:
        return f"Contact user{int(rng.integers(0, 10**6))}@example.org regarding details today."
    if k == 1:
        a, b, c = rng.integers(200, 999, 2).tolist() + [int(rng.integers(1000, 9999))]
        return f"Call office line {a}-{b}-{c} before noon."
    o = rng.integers(1, 255, 4).tolist()
    return f"Relay host {o[0]}.{o[1]}.{o[2]}.{o[3]} restarted overnight."


def generate_docs(seed: int, docs: int, out_dir: str) -> DocMeta:
    """Write ``docs`` JSON-lines documents into ``out_dir``.

    75% are prose with stopwords and at least 60 tokens (pass), 15% are
    under 30 tokens and 10% carry no stopwords (both fail
    ``quality_filter``);
    every seventh passing doc is followed by an exact duplicate, so about
    10% of all docs are duplicates.
    """
    rng = np.random.default_rng([seed, 2])
    meta = DocMeta(seed=seed, docs=docs)
    lines = []
    last_good: str | None = None
    for i in range(docs):
        if last_good is not None and i % 10 == 9:
            text = last_good
            meta.duplicates += 1
            meta.quality_pass += 1
            last_good = None
        else:
            kind = rng.choice(3, p=[0.75, 0.15, 0.10])
            if kind == 1:
                body = [_sentence(rng, 8, True)]
            else:
                n_sent = int(rng.integers(5, 9))
                body = [_sentence(rng, int(rng.integers(12, 20)), kind == 0) for _ in range(n_sent)]
            if rng.random() < 0.5:
                body.insert(int(rng.integers(0, len(body) + 1)), _pii(rng))
            body.insert(0, _BOILER[int(rng.integers(0, len(_BOILER)))])
            body.append(_BOILER[int(rng.integers(0, len(_BOILER)))])
            text = "\n".join(body)
            if kind == 0:
                meta.quality_pass += 1
                last_good = text
        lines.append(json.dumps({"id": i + 1, "text": text}) + "\n")
    os.makedirs(out_dir, exist_ok=True)
    data = "".join(lines).encode()
    path = os.path.join(out_dir, "docs.jsonl")
    with open(path, "wb") as fh:
        fh.write(data)
    meta.raw_bytes = len(data)
    meta.files.append(path)
    return meta


def digest(paths: list[str]) -> str:
    """sha256 over the files' bytes, in order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


_GENERATORS = {"ais": (generate_ais, AisMeta), "docs": (generate_docs, DocMeta)}


def cached(kind: str, seed: int, size: int, cache_root: str):
    """Generate once per ``(kind, seed, size)``; later calls reuse the
    files. A ``meta.json`` written last marks a complete entry."""
    fn, cls = _GENERATORS[kind]
    out_dir = os.path.join(cache_root, f"{kind}-s{seed}-n{size}")
    meta_path = os.path.join(out_dir, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return cls(**json.load(fh))
    meta = fn(seed, size, os.path.join(out_dir, "raw"))
    with open(meta_path + ".tmp", "w") as fh:
        json.dump(asdict(meta), fh)
    os.replace(meta_path + ".tmp", meta_path)
    return meta
