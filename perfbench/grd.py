"""Seeded stack of ICEYE-style GRD rasters and the cube it must yield.

``write_stack`` writes uncompressed classic TIFFs: float32 strips plus
the GDAL_METADATA tag (42112) carrying the four items the metadata
crawl reads. ``expected_cube`` computes the cube a config must produce
from the generated products alone, in numpy, with the reference
semantics: inclusive date and incidence-angle windows, the latest
``acquisition_end_utc`` per date when ``temporal_overlap`` is false,
one slot per ``temporal_resolution`` days and a NaN layer for every
empty slot. It shares no code with the engine.
"""

from __future__ import annotations

import json
import os
import struct
from datetime import date, datetime, timedelta

import numpy as np

TAG_GDAL_METADATA = 42112
_ROWS_PER_STRIP = 16

# The config every cube op runs with; the generated dates and angles
# straddle both windows.
CONFIG = {
    "start_date": 20210301,
    "end_date": 20210409,
    "min_incidence_angle": 18.0,
    "max_incidence_angle": 38.0,
    "temporal_overlap": False,
    "temporal_resolution": 1,
}


def tiff_bytes(pixels: np.ndarray, metadata: dict[str, str]) -> bytes:
    """One uncompressed little-endian classic TIFF of a 2-D float32
    array, with ``metadata`` as GDAL_METADATA items."""
    pixels = np.ascontiguousarray(pixels, dtype="<f4")
    height, width = pixels.shape
    strips = [
        pixels[r : r + _ROWS_PER_STRIP].tobytes()
        for r in range(0, height, _ROWS_PER_STRIP)
    ]
    items = "".join(f'<Item name="{k}">{v}</Item>' for k, v in metadata.items())
    xml = f"<GDALMetadata>{items}</GDALMetadata>\0".encode()
    body = bytearray(b"II" + struct.pack("<HI", 42, 0))
    offsets = []
    for s in strips:
        offsets.append(len(body))
        body += s
    xml_off = len(body)
    body += xml
    arrays_off = len(body)
    body += struct.pack(f"<{len(strips)}I", *offsets)
    body += struct.pack(f"<{len(strips)}I", *map(len, strips))
    n = len(strips)
    entries = [  # (tag, type, count, value-or-offset), ascending tags
        (256, 4, 1, width),
        (257, 4, 1, height),
        (258, 3, 1, 32),
        (259, 3, 1, 1),
        (262, 3, 1, 1),
        (273, 4, n, offsets[0] if n == 1 else arrays_off),
        (277, 3, 1, 1),
        (278, 4, 1, _ROWS_PER_STRIP),
        (279, 4, n, len(strips[0]) if n == 1 else arrays_off + 4 * n),
        (339, 3, 1, 3),
        (TAG_GDAL_METADATA, 2, len(xml), xml_off),
    ]
    ifd_off = len(body)
    body += struct.pack("<H", len(entries))
    for tag, typ, count, value in entries:
        body += struct.pack("<HHII", tag, typ, count, value)
    body += struct.pack("<I", 0)
    struct.pack_into("<I", body, 4, ifd_off)
    return bytes(body)


def make_products(seed: int, n: int, size: int) -> list[dict]:
    """Draw ``n`` products with the same layout for every seed: a sixth
    dated up to ten days before or after the config window, a sixth
    inside it with an angle outside the angle window, and the rest
    inside both windows on half as many distinct days, each of those
    days holding at least one (so dates repeat and the cube keeps the
    same number of layers whatever the seed). The seed draws the days,
    the distinct acquisition times, the angles, the orbit directions,
    the ``size``² float32 intensities and the file order."""
    rng = np.random.default_rng(seed)
    start = datetime.strptime(str(CONFIG["start_date"]), "%Y%m%d")
    end = datetime.strptime(str(CONFIG["end_date"]), "%Y%m%d")
    window = (end - start).days + 1
    lo, hi = CONFIG["min_incidence_angle"], CONFIG["max_incidence_angle"]
    n_out = n // 6
    n_in = n - 2 * n_out
    n_days = max(1, n_in // 2)
    pool = rng.choice(window, n_days, replace=False)
    days = np.concatenate([
        -rng.integers(1, 11, n_out - n_out // 2),  # before the window
        window - 1 + rng.integers(1, 11, n_out // 2),  # after it
        rng.integers(0, window, n_out),  # angle outside the window
        pool, rng.choice(pool, n_in - n_days),  # both inside
    ])
    angles = np.concatenate([
        rng.uniform(15.0, 40.0, n_out),
        rng.uniform(15.0, lo - 0.1, n_out - n_out // 2),  # below the window
        rng.uniform(hi + 0.1, 40.0, n_out // 2),  # above it
        rng.uniform(lo, hi, n_in),
    ])
    order = rng.permutation(n)
    seconds = rng.choice(86_400, n, replace=False)
    micros = rng.integers(0, 1_000_000, n)
    products = []
    for i in range(n):
        j = order[i]
        t = start + timedelta(
            days=int(days[j]), seconds=int(seconds[i]), microseconds=int(micros[i]),
        )
        products.append({
            "product_file": f"ICEYE_GRD_SM_{seed}_{i:04d}",
            "acquisition_end_utc": t.strftime("%Y-%m-%dT%H:%M:%S.%f"),
            "incidence_center": f"{angles[j]:.3f}",
            "orbit_direction": "ASCENDING" if rng.random() < 0.5 else "DESCENDING",
            "pixels": rng.gamma(2.0, 50.0, (size, size)).astype(np.float32),
        })
    return products


def write_stack(out_dir: str, seed: int, n: int, size: int) -> list[dict]:
    """Write the seeded stack and ``config.json`` into ``out_dir``
    (rasters under ``out_dir/rasters``); returns the products."""
    raster_dir = os.path.join(out_dir, "rasters")
    os.makedirs(raster_dir, exist_ok=True)
    products = make_products(seed, n, size)
    for p in products:
        meta = {k: v for k, v in p.items() if k != "pixels"}
        with open(os.path.join(raster_dir, p["product_file"] + ".tif"), "wb") as f:
            f.write(tiff_bytes(p["pixels"], meta))
    with open(os.path.join(out_dir, "config.json"), "w") as f:
        json.dump(CONFIG, f)
    return products


def expected_cube(products: list[dict], config: dict = CONFIG):
    """(intensity, product names, slot dates) the netCDF export of
    ``config`` over ``products`` must hold."""
    start = datetime.strptime(str(config["start_date"]), "%Y%m%d").date()
    end = datetime.strptime(str(config["end_date"]), "%Y%m%d").date()
    lo, hi = config["min_incidence_angle"], config["max_incidence_angle"]
    latest: dict[date, dict] = {}
    for p in products:
        d = datetime.strptime(p["acquisition_end_utc"], "%Y-%m-%dT%H:%M:%S.%f").date()
        if not (start <= d <= end and lo <= float(p["incidence_center"]) <= hi):
            continue
        if d not in latest or p["acquisition_end_utc"] > latest[d]["acquisition_end_utc"]:
            latest[d] = p
    step = timedelta(days=config["temporal_resolution"])
    slots = [start + k * step for k in range((end - start) // step + 1)]
    shape = products[0]["pixels"].shape
    cube = np.full((len(slots),) + shape, np.nan)
    names = []
    for i, d in enumerate(slots):
        p = latest.get(d)
        if p is not None:
            cube[i] = p["pixels"].astype(np.float64)
        names.append(p["product_file"] if p is not None else "None")
    return cube, names, [d.isoformat() for d in slots]


def check_netcdf(path: str, want) -> str:
    """Empty string when the file holds ``want`` bit-exactly, else
    what differs. Reads back through the engine's netCDF-3 reader."""
    from icecube_spark.sources.netcdf3 import read_netcdf3

    cube, names, dates = want
    _, variables, _ = read_netcdf3(path)
    got = variables["intensity"][1]
    if got.shape != cube.shape:
        return f"intensity shape {got.shape} != {cube.shape}"
    if not np.array_equal(got, cube, equal_nan=True):
        return "intensity values differ"
    got_names = [b"".join(r).decode().rstrip("\0") for r in variables["product_file"][1]]
    if got_names != names:
        return "product_file per slot differs"
    got_dates = [b"".join(r).decode() for r in variables["acquisition_date"][1]]
    if got_dates != dates:
        return "slot dates differ"
    return ""
