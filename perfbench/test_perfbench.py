"""Self-test of the benchmark: metric names and units, the output checks,
seeded inputs.

    python3 -m pytest perfbench/test_perfbench.py -q

The tiny end-to-end runs start Spark four times (a few minutes on four
cores); the other tests need no Spark.
"""

from __future__ import annotations

import contextlib
import io
import json
import os

import duckdb
import numpy as np
import pytest

import grd
import run
import tables


def _file_bytes(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def test_seed_reproduces_identical_grd_stack(tmp_path):
    a = grd.write_stack(str(tmp_path / "a"), 5, 12, 16)
    grd.write_stack(str(tmp_path / "b"), 5, 12, 16)
    grd.write_stack(str(tmp_path / "c"), 6, 12, 16)
    same = _file_bytes(str(tmp_path / "a" / "rasters"))
    assert same == _file_bytes(str(tmp_path / "b" / "rasters"))
    assert len(same) == len(a) == 12
    other = _file_bytes(str(tmp_path / "c" / "rasters"))
    assert list(other.values()) != list(same.values())


def test_tiff_round_trips_through_the_engine_decoders(tmp_path):
    from icecube_spark.sources.raster import decode_tiff_pixels, parse_gdal_metadata

    products = grd.write_stack(str(tmp_path), 3, 4, 40)  # 40 rows: 3 strips
    for p in products:
        with open(tmp_path / "rasters" / f"{p['product_file']}.tif", "rb") as f:
            data = f.read()
        assert np.array_equal(decode_tiff_pixels(data), p["pixels"])
        meta = parse_gdal_metadata(data)
        for k in ("product_file", "acquisition_end_utc", "incidence_center", "orbit_direction"):
            assert meta[k] == p[k]


@pytest.mark.parametrize("seed", [1, 9, 17])
def test_stack_exercises_every_filter(seed):
    products = grd.make_products(seed, 48, 4)
    cube, names, dates = grd.expected_cube(products)
    days = [p["acquisition_end_utc"][:10] for p in products]
    assert len(set(days)) < len(days)  # several products share a date
    assert min(days) < dates[0] and max(days) > dates[-1]  # some outside the window
    angles = [float(p["incidence_center"]) for p in products]
    cfg = grd.CONFIG
    assert min(angles) < cfg["min_incidence_angle"] and max(angles) > cfg["max_incidence_angle"]
    kept = [n for n in names if n != "None"]
    # real layers and NaN gap layers, the same number for every seed
    assert len(names) == 40 and len(kept) == 16
    assert np.isnan(cube[names.index("None")]).all()


def test_corrupted_cube_expectation_fails_the_check(tmp_path):
    from icecube_spark.sources.netcdf3 import write_netcdf3

    cube, names, dates = grd.expected_cube(grd.make_products(4, 24, 8))
    name_arr = np.array([list(n.ljust(24, "\0")) for n in names], dtype="S1")
    date_arr = np.array([list(d) for d in dates], dtype="S1")
    path = str(tmp_path / "cube.nc")
    write_netcdf3(
        path,
        dims={"band": len(names), "azimuth": 8, "range": 8, "strlen": 24, "datelen": 10},
        variables={
            "intensity": (("band", "azimuth", "range"), cube, {}),
            "product_file": (("band", "strlen"), name_arr, {}),
            "acquisition_date": (("band", "datelen"), date_arr, {}),
        },
        global_attrs={},
    )
    assert grd.check_netcdf(path, (cube, names, dates)) == ""
    bad = cube.copy()
    bad[names.index(next(n for n in names if n != "None")), 0, 0] += 1.0
    assert grd.check_netcdf(path, (bad, names, dates)) == "intensity values differ"


def test_corrupted_registry_output_fails_the_check(tmp_path):
    """A key's output equal to its oracle passes; one changed value fails."""
    bench = run.Bench("registry_mix", 1, 1.0, False, str(tmp_path))
    bench.sf_dir = str(tmp_path / "tables")
    tables.write_tables(bench.sf_dir, 1, 0.001)
    con = duckdb.connect()
    for name in tables.TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{bench.sf_dir}/{name}.parquet'")
    import __spark_entry__ as entry

    got = con.sql(entry.oracle_sql()["q1_pricing_summary"]).df()
    bench.check([("q1_pricing_summary", got, {}, {})])
    assert bench.failures == [] and bench.attempted == 1
    got.loc[0, "sum_qty"] = got.loc[0, "sum_qty"] + 1
    bench.check([("q1_pricing_summary", got, {}, {})])
    assert len(bench.failures) == 1 and "differs from oracle" in bench.failures[0]


def test_tail_is_p90_until_ten_samples_lie_beyond_it():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 90.0, 0)
    assert run.tail([float(x) for x in range(1, 15)]) == (13.0, 90.0, 1)
    assert run.tail([float(x) for x in range(1, 201)]) == (190.0, 95.0, 10)


def test_ops_per_s_is_the_rate_of_the_median_pass():
    # pass rates 1.0, 2.0 and 0.25 ops/s
    assert run.pass_rate([[1.0, 1.0], [0.5, 0.5], [4.0]]) == 1.0


def test_benchmark_json_declares_the_emitted_metrics():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_emits_every_metric(workload, trace, monkeypatch):
    monkeypatch.setattr(run, "REGISTRY_SF", 0.001)
    monkeypatch.setattr(run, "GRD_RASTERS", 12)
    monkeypatch.setattr(run, "GRD_SIZE", 16)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        code = run.main(["--workload", workload, "--seed", "3", "--seconds", "1",
                         "--trace", str(trace)])
    result = json.loads(out.getvalue().strip().splitlines()[-1])
    assert code == 0 and result["correct"] and result["failed"] == 0
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = run.per_layer_units() if trace else run.END_TO_END_UNITS
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
