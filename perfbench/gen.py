"""Seeded input generator for the openEO batch-job benchmark.

Everything a job reads is written here, from ``--seed`` alone, before
any Spark session exists: GeoTIFF scenes with a STAC item list (the
canned catalog), a pre-decoded long-form parquet cube, a label table,
and a pickled per-pixel MLP with its STAC-MLM item. The same seed and
size give byte-identical files. Each ``generate_*`` returns a JSON-able
manifest holding the paths plus the numpy reference the output check
needs, so no check ever asks the program under test for its answer.
"""

from __future__ import annotations

import json
import os
import pickle
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pixel_mlp import PixelMLP

BANDS = ("B02_10m", "B03_10m", "B04_10m", "B08_10m")  # blue green red nir
COMMON = ("blue", "green", "red", "nir")
CDSE = "https://stac.dataspace.copernicus.eu/v1"
COLLECTION = "sentinel-2-l2a"
N_CLASSES = 4
ZONES = 16  # zonal_ndvi polygons
TILE = 32  # tiled_inference model input is TILE x TILE pixels
BATCH = 8  # tiled_inference mlm:batch_size_suggestion


@dataclass(frozen=True)
class Size:
    dates: int
    side: int  # scenes are side x side pixels, one CRS unit per pixel

    @property
    def cells(self) -> int:
        return self.dates * len(BANDS) * self.side * self.side


@dataclass(frozen=True)
class RfSize(Size):
    labels: int  # training pixels sampled from the class image
    trees: int  # MLlib random forest size


def _dates(n: int) -> list[pd.Timestamp]:
    """Two acquisitions a month from January 2024 (days 5 and 20), so
    a monthly composite always reduces two dates."""
    out = []
    for i in range(n):
        month, half = divmod(i, 2)
        out.append(pd.Timestamp(2024, 1 + month, 5 + 15 * half))
    return out


def _smooth(rng: np.random.Generator, side: int, scale: int = 16) -> np.ndarray:
    """A smooth random field in [0, 1): coarse noise upsampled by
    bilinear interpolation, so neighbouring pixels correlate and
    deflate compresses the scenes like real imagery."""
    coarse = rng.random((side // scale + 2, side // scale + 2))
    pos = (np.arange(side) + 0.5) / scale
    i0 = np.floor(pos).astype(int)
    f = pos - i0
    rows = coarse[i0] * (1 - f)[:, None] + coarse[i0 + 1] * f[:, None]
    return rows[:, i0] * (1 - f)[None, :] + rows[:, i0 + 1] * f[None, :]


def _scenes(rng: np.random.Generator, size: Size, classes=None) -> np.ndarray:
    """int16 reflectance DNs shaped (dates, bands, y, x). Bands are a
    per-date smooth field plus a band offset and white noise; with a
    class image the spectra depend on the class (rf_classify)."""
    d, s = size.dates, size.side
    out = np.empty((d, len(BANDS), s, s), dtype=np.int16)
    base = np.array([800.0, 1100.0, 1300.0, 3000.0])
    spectra = rng.uniform(300.0, 2500.0, (N_CLASSES, len(BANDS)))
    for t in range(d):
        field = _smooth(rng, s)
        for b in range(len(BANDS)):
            v = base[b] + 2000.0 * field + rng.normal(0.0, 60.0, (s, s))
            if classes is not None:
                v = v + spectra[classes, b] * (1.0 + 0.3 * np.sin(t))
            out[t, b] = np.clip(v, 1, 10000).astype(np.int16)
    return out


def _cube_table(scenes: np.ndarray, dates) -> pa.Table:
    """Long-form cube rows (time, band, y, x, value) in the decoder's
    layout: pixel-centre coordinates, row 0 at the top (max y)."""
    d, nb, s, _ = scenes.shape
    ys = s - (np.arange(s) + 0.5)
    xs = np.arange(s) + 0.5
    yy, xx = np.meshgrid(ys, xs, indexing="ij")
    n = s * s
    time = np.repeat(np.array(dates, dtype="datetime64[us]"), nb * n)
    band = np.tile(np.repeat(np.array(COMMON), n), d)
    return pa.table(
        {
            "time": pa.array(time, pa.timestamp("us", tz="UTC")),
            "band": pa.array(band),
            "y": np.tile(yy.ravel(), d * nb),
            "x": np.tile(xx.ravel(), d * nb),
            "value": scenes.reshape(-1).astype(np.float64),
        }
    )


def _write_cube(root: str, scenes: np.ndarray, dates) -> str:
    """One parquet file per date, so the scan has one split per date."""
    path = os.path.join(root, "cube")
    os.makedirs(path, exist_ok=True)
    for t, when in enumerate(dates):
        pq.write_table(
            _cube_table(scenes[t : t + 1], [when]),
            os.path.join(path, f"part-{t:03d}.parquet"),
            compression="zstd",
        )
    return path


def _zones(rng: np.random.Generator, side: int, n: int) -> list[list]:
    """n non-overlapping axis-aligned rectangles, one inside each cell
    of a sqrt(n) x sqrt(n) partition, with integer vertices so no
    pixel centre (k + 0.5) ever sits on an edge."""
    k = int(round(n ** 0.5))
    cell = side // k
    zones = []
    for i in range(k):
        for j in range(k):
            x0 = j * cell + int(rng.integers(0, cell // 4))
            y0 = i * cell + int(rng.integers(0, cell // 4))
            x1 = (j + 1) * cell - int(rng.integers(0, cell // 4))
            y1 = (i + 1) * cell - int(rng.integers(0, cell // 4))
            wkt = (
                f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, "
                f"{x0} {y1}, {x0} {y0}))"
            )
            zones.append([len(zones) + 1, wkt, [x0, y0, x1, y1]])
    return zones


def generate_zonal_ndvi(root: str, seed: int, size: Size) -> dict:
    """GeoTIFF scenes behind a canned STAC catalog, 16 WKT zones, and
    the zonal monthly-median NDVI the job must reproduce."""
    from openeo_processes_dask_ml_spark.io.gtiff import encode_gtiff

    rng = np.random.default_rng(seed)
    dates = _dates(size.dates)
    scenes = _scenes(rng, size)
    s = size.side
    bbox = [0.0, 0.0, float(s), float(s)]
    items = []
    for t, when in enumerate(dates):
        item_id = f"S2_{when:%Y%m%d}"
        os.makedirs(os.path.join(root, "scenes", item_id), exist_ok=True)
        assets = {}
        for b, band in enumerate(BANDS):
            rel = f"scenes/{item_id}/{band}.tif"
            with open(os.path.join(root, rel), "wb") as f:
                f.write(
                    encode_gtiff(
                        scenes[t, b],
                        bbox=bbox,
                        epsg=32632,
                        compression="deflate",
                        tile=(min(256, s), min(256, s)),
                        predictor=2,
                    )
                )
            assets[band] = {
                "href": f"bench://{rel}",
                "type": "image/tiff; application=geotiff",
            }
        items.append(
            {
                "type": "Feature",
                "id": item_id,
                "bbox": bbox,
                "properties": {"datetime": f"{when:%Y-%m-%dT10:30:00Z}"},
                "assets": assets,
            }
        )
    with open(os.path.join(root, "items.json"), "w") as f:
        json.dump({"collection": COLLECTION, "features": items}, f)

    zones = _zones(rng, s, ZONES)
    # numpy reference: ndvi per date, median per month, mean per zone
    red = scenes[:, 2].astype(np.float64)
    nir = scenes[:, 3].astype(np.float64)
    ndvi = (nir - red) / (nir + red)
    months = sorted({(d.year, d.month) for d in dates})
    ref = []
    ys = s - (np.arange(s) + 0.5)
    xs = np.arange(s) + 0.5
    for y, m in months:
        sel = [i for i, d in enumerate(dates) if (d.year, d.month) == (y, m)]
        med = np.median(ndvi[sel], axis=0)
        for zid, _, (x0, y0, x1, y1) in zones:
            rows = (ys > y0) & (ys < y1)
            cols = (xs > x0) & (xs < x1)
            ref.append([zid, f"{y:04d}-{m:02d}", float(med[rows][:, cols].mean())])
    return {
        "workload": "zonal_ndvi",
        "cells": size.dates * 2 * s * s,  # the job loads red and nir only
        "assets": size.dates * 2,
        "bbox": bbox,
        "start": f"{dates[0]:%Y-%m-%d}",
        "end": f"{dates[-1] + pd.Timedelta(days=1):%Y-%m-%d}",
        "zones": [[z[0], z[1]] for z in zones],
        "expected": ref,
    }


def generate_tiled_inference(root: str, seed: int, size: Size) -> dict:
    """A pre-decoded parquet cube, a pickled per-pixel MLP and its
    STAC-MLM item (framework scikit-learn, so the executor unpickles
    it), plus the MLP's output computed by numpy on the same pixels."""
    rng = np.random.default_rng(seed)
    dates = _dates(size.dates)
    scenes = _scenes(rng, size)
    cube = _write_cube(root, scenes, dates)
    model = PixelMLP.random(rng, n_in=len(BANDS), hidden=16)
    model_path = os.path.join(root, "pixel_mlp.pkl")
    with open(model_path, "wb") as f:
        pickle.dump(model, f, protocol=4)
    item = {
        "type": "Feature",
        "stac_version": "1.0.0",
        "stac_extensions": [
            "https://stac-extensions.github.io/mlm/v1.4.0/schema.json"
        ],
        "id": "pixel-mlp",
        "geometry": None,
        "bbox": None,
        "properties": {
            "datetime": "2024-01-01T00:00:00Z",
            "mlm:name": "pixel-mlp",
            "mlm:architecture": "MLP",
            "mlm:tasks": ["regression"],
            "mlm:framework": "scikit-learn",
            "mlm:batch_size_suggestion": BATCH,
            "mlm:input": [
                {
                    "name": "reflectance",
                    "bands": list(COMMON),
                    "input": {
                        "shape": [-1, len(COMMON), TILE, TILE],
                        "dim_order": ["batch", "bands", "y", "x"],
                        "data_type": "float64",
                    },
                }
            ],
            "mlm:output": [
                {
                    "name": "index",
                    "tasks": ["regression"],
                    "result": {
                        "shape": [-1, TILE, TILE],
                        "dim_order": ["batch", "y", "x"],
                        "data_type": "float64",
                    },
                }
            ],
        },
        "links": [],
        "assets": {
            "model": {
                "href": model_path,
                "type": "application/octet-stream; framework=scikit-learn",
                "roles": ["mlm:model"],
            }
        },
    }
    item_path = os.path.join(root, "pixel_mlp.json")
    with open(item_path, "w") as f:
        json.dump(item, f, indent=1)
    expected = model.predict(scenes.astype(np.float64))  # (dates, y, x)
    np.save(os.path.join(root, "expected.npy"), expected)
    return {
        "workload": "tiled_inference",
        "cells": size.cells,
        "cube": cube,
        "model_item": item_path,
        "expected": os.path.join(root, "expected.npy"),
        "dates": [f"{d:%Y-%m-%d}" for d in dates],
    }


def _class_image(rng: np.random.Generator, side: int) -> np.ndarray:
    """Patchy land-cover classes: nearest of 24 random seed points."""
    pts = rng.random((24, 2)) * side
    cls = rng.integers(0, N_CLASSES, len(pts))
    cls[:N_CLASSES] = np.arange(N_CLASSES)  # every class present
    c = np.arange(side) + 0.5
    yy, xx = np.meshgrid(c, c, indexing="ij")
    d2 = (yy[..., None] - pts[:, 0]) ** 2 + (xx[..., None] - pts[:, 1]) ** 2
    return cls[np.argmin(d2, axis=-1)]


def generate_rf_classify(root: str, seed: int, size: RfSize) -> dict:
    """A parquet cube whose spectra depend on a class image, and the
    label table (label_id, x, y, class_name) sampled from that image —
    the rasterized training labels of the reference's train_rf flow."""
    rng = np.random.default_rng(seed)
    s = size.side
    dates = _dates(size.dates)
    classes = _class_image(rng, s)
    scenes = _scenes(rng, size, classes)
    cube = _write_cube(root, scenes, dates)
    flat = rng.choice(s * s, size=size.labels, replace=False)
    r, c = np.divmod(flat, s)
    labels = pa.table(
        {
            "label_id": np.arange(len(flat), dtype=np.int64),
            "x": c + 0.5,
            "y": s - (r + 0.5),
            "class_name": classes[r, c].astype(np.int64),
        }
    )
    label_path = os.path.join(root, "labels.parquet")
    pq.write_table(labels, label_path)
    np.save(os.path.join(root, "classes.npy"), classes)
    return {
        "workload": "rf_classify",
        "cells": size.cells,
        "cube": cube,
        "labels": label_path,
        "classes": os.path.join(root, "classes.npy"),
        "trees": size.trees,
    }


GENERATORS = {
    "zonal_ndvi": generate_zonal_ndvi,
    "tiled_inference": generate_tiled_inference,
    "rf_classify": generate_rf_classify,
}


def generate(workload: str, root: str, seed: int, size: Size) -> dict:
    os.makedirs(root, exist_ok=True)
    manifest = GENERATORS[workload](root, seed, size)
    manifest["seed"] = seed
    with open(os.path.join(root, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
