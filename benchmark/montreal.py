"""Seeded generator of Montréal-shaped pipeline inputs, with ground truth.

The road network is written the way the reference receives it: KMZ
archives holding one `doc.kml` each, placemarks grouped in street-level
folders, the network id inside the escaped HTML description, a centre
point plus a LineString per street. Accidents are written as the SAAQ
collision CSV: `DT_ACCDN` (yyyy/MM/dd), `HEURE_ACCDN` (HH:MM:SS-HH:MM:SS),
`LOC_LAT`, `LOC_LONG`, plus columns the pipeline carries but does not use.

Streets sit one per cell of a grid over the island, at least ~250 m from
any other street, and every accident lies within 12 m of a point of the
street it was placed on, so the nearest road point always belongs to that
street. A tenth of the streets are "hot" and draw twelve times the
accidents of the others, in both years; that skew is what lets the
per-street accident count predict test-year accidents.
"""
import io
import math
import os
import zipfile

import numpy as np

EARTH_RADIUS_M = 6371008.8
LAT0, LAT1, LON0, LON1 = 45.42, 45.70, -73.92, -73.48
CELL_LAT, CELL_LON = 0.006, 0.008
LEVELS = ["Artère", "Collectrice", "Locale", "Autoroute"]
PREFIXES = ["rue", "avenue", "boulevard", "chemin", "autoroute", "place"]
HOUR_WEIGHTS = np.array([1, 1, 1, 1, 1, 2, 4, 8, 8, 5, 4, 4,
                         5, 5, 5, 7, 9, 9, 6, 4, 3, 2, 2, 1], dtype=float)
N_KMZ = 4
HOT_SHARE, HOT_WEIGHT = 0.1, 12.0
MAX_OFFSET_M = 12.0


def haversine_m(lat1, lon1, lat2, lon2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp, dl = p2 - p1, np.radians(lon2) - np.radians(lon1)
    a = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def _offset(lat, lon, dist_m, bearing):
    dlat = dist_m * np.cos(bearing) / (EARTH_RADIUS_M * math.pi / 180)
    dlon = dist_m * np.sin(bearing) / (EARTH_RADIUS_M * math.pi / 180 * np.cos(np.radians(lat)))
    return lat + dlat, lon + dlon


def generate(seed, out_dir, n_streets, n_accidents, years):
    """Write `kmz/*.kmz` and `accidents.csv` under `out_dir`; return the truth."""
    rng = np.random.default_rng(seed)
    rows, cols = int((LAT1 - LAT0) / CELL_LAT), int((LON1 - LON0) / CELL_LON)
    if n_streets > rows * cols:
        raise ValueError(f"at most {rows * cols} streets fit the grid")
    cells = rng.choice(rows * cols, size=n_streets, replace=False)
    c_lat = LAT0 + (cells // cols + 0.5) * CELL_LAT + rng.uniform(-5e-4, 5e-4, n_streets)
    c_lon = LON0 + (cells % cols + 0.5) * CELL_LON + rng.uniform(-5e-4, 5e-4, n_streets)
    c_lat, c_lon = np.round(c_lat, 6), np.round(c_lon, 6)
    bearing = rng.choice([0.0, math.pi / 4, math.pi / 2, 3 * math.pi / 4], size=n_streets)
    length_m = rng.uniform(90.0, 190.0, n_streets)
    # four LineString points along the street; the parser appends the centre
    t = np.array([-0.5, -1 / 6, 1 / 6, 0.5])
    p_lat, p_lon = _offset(c_lat[:, None], c_lon[:, None],
                           length_m[:, None] * t[None, :], bearing[:, None])
    p_lat, p_lon = np.round(p_lat, 6), np.round(p_lon, 6)
    pts_lat = np.concatenate([p_lat, c_lat[:, None]], axis=1)
    pts_lon = np.concatenate([p_lon, c_lon[:, None]], axis=1)

    nids = [f"{v:016x}" for v in rng.integers(0, 2 ** 63, n_streets)]
    # one street in twenty shares its network id with another street, as
    # real NRN segments do; ids are then numbered by centre latitude
    for i in np.flatnonzero(rng.random(n_streets) < 0.05):
        nids[i] = nids[(i + 1) % n_streets]
    street_ids = [""] * n_streets
    by_nid = {}
    for i, nid in enumerate(nids):
        by_nid.setdefault(nid, []).append(i)
    for nid, members in by_nid.items():
        for rank, i in enumerate(sorted(members, key=lambda i: (c_lat[i], c_lon[i])), 1):
            street_ids[i] = f"{nid}{rank}"

    lengths = np.zeros(n_streets)
    for a in range(5):
        for b in range(a + 1, 5):
            lengths = np.maximum(lengths, haversine_m(pts_lat[:, a], pts_lon[:, a],
                                                      pts_lat[:, b], pts_lon[:, b]))

    level = rng.integers(0, len(LEVELS), n_streets)
    names = [f"{PREFIXES[rng.integers(len(PREFIXES))]} {i}-{rng.integers(1000)}"
             for i in range(n_streets)]
    os.makedirs(os.path.join(out_dir, "kmz"))
    for f in range(N_KMZ):
        folders = []
        for lv, lname in enumerate(LEVELS):
            marks = []
            for i in range(f, n_streets, N_KMZ):
                if level[i] != lv:
                    continue
                line = " ".join(f"{p_lon[i, k]:.6f},{p_lat[i, k]:.6f}" for k in range(4))
                marks.append(
                    f"<Placemark><name>{names[i]}</name><description>"
                    f"&lt;th&gt;nid&lt;/th&gt;\n&lt;td&gt;{nids[i]}&lt;/td&gt;"
                    f"</description><MultiGeometry><Point><coordinates>"
                    f"{c_lon[i]:.6f},{c_lat[i]:.6f}</coordinates></Point>"
                    f"<LineString><coordinates>{line}</coordinates></LineString>"
                    f"</MultiGeometry></Placemark>")
            folders.append(f"<Folder><name>{lname}</name>{''.join(marks)}</Folder>")
        kml = ('<?xml version="1.0" encoding="UTF-8"?><kml><Document>'
               + "".join(folders) + "</Document></kml>")
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
            z.writestr("doc.kml", kml)
        with open(os.path.join(out_dir, "kmz", f"roads_{f}.kmz"), "wb") as fh:
            fh.write(buf.getvalue())

    weight = np.ones(n_streets)
    weight[rng.random(n_streets) < HOT_SHARE] = HOT_WEIGHT
    street = rng.choice(n_streets, size=n_accidents, p=weight / weight.sum())
    first = np.datetime64(f"{min(years)}-01-01")
    n_days = int((np.datetime64(f"{max(years) + 1}-01-01") - first).astype(int))
    date = first + rng.integers(0, n_days, n_accidents).astype("timedelta64[D]")
    hour = rng.choice(24, size=n_accidents, p=HOUR_WEIGHTS / HOUR_WEIGHTS.sum())
    k = rng.integers(0, 5, n_accidents)
    a_lat, a_lon = _offset(pts_lat[street, k], pts_lon[street, k],
                           rng.uniform(0, MAX_OFFSET_M, n_accidents),
                           rng.uniform(0, 2 * math.pi, n_accidents))
    a_lat, a_lon = np.round(a_lat, 6), np.round(a_lon, 6)

    date_s = [str(d).replace("-", "/") for d in date]
    lines = []
    for j in range(n_accidents):
        gravite = "" if j % 7 == 0 else "Dommages matériels seulement"
        lines.append([f"SPVM-{j:07d}", date_s[j], f"{hour[j]:02d}:00:00-{hour[j]:02d}:59:00",
                      gravite, f"{a_lat[j]:.6f}", f"{a_lon[j]:.6f}"])
    # rows missing one key field each: the preprocessing must drop exactly these
    n_invalid = max(4, n_accidents // 100)
    for j in range(n_invalid):
        row = [f"BAD-{j:07d}", "2016/06/01", "12:00:00-12:59:00", "", "45.500000", "-73.600000"]
        row[[1, 2, 4, 5][j % 4]] = ""
        lines.append(row)
    order = rng.permutation(len(lines))
    with open(os.path.join(out_dir, "accidents.csv"), "w", encoding="utf-8") as fh:
        fh.write("NO_SEQ_COLL,DT_ACCDN,HEURE_ACCDN,GRAVITE,LOC_LAT,LOC_LONG\n")
        for j in order:
            fh.write(",".join(lines[j]) + "\n")

    return {
        "street_ids": np.array(street_ids),
        "pts_lat": pts_lat, "pts_lon": pts_lon, "lengths": lengths,
        "acc_ids": np.array([f"SPVM-{j:07d}" for j in range(n_accidents)]),
        "acc_street": street, "acc_date": date, "acc_hour": hour,
        "acc_lat": a_lat, "acc_lon": a_lon, "n_invalid": n_invalid,
    }
