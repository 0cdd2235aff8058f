"""The three openEO batch jobs the benchmark runs, with their output
checks and the prefixes the traced run materializes.

Each workload offers:

- ``build()``: the job up to its sink (the eager work a backend does
  before writing anything), returning the result to save;
- ``sink(result, out)``: ``io.load.save_result`` with the arguments the
  graph's ``save_result`` process passes;
- ``run(out)``: the whole job, ``sink(build(), out)``, shared by all
  workloads, so a plain and a traced job differ only by the spans;
- ``prefixes()``: (layer, function returning a DataFrame) pairs, each a
  longer prefix of the job, for noop materialization; a layer's self
  time is its prefix time minus the previous prefix's;
- ``check(out)``: compare the written output with the numpy reference
  from the generator; returns an error message or None;
- ``out_cells``: cells the sink writes, for bytes per output cell.
"""

from __future__ import annotations

import glob
import json
import os
import zlib

import numpy as np
import pyarrow.parquet as pq

from canned import CannedStac, FileFetcher
from gen import CDSE, COLLECTION

DIMS = {"time": "time", "bands": "band", "y": "y", "x": "x"}


def _parquet_cube(spark, path: str):
    from openeo_processes_dask_ml_spark.cube import CubeFrame

    return CubeFrame(spark.read.parquet(path), dict(DIMS), "value")


class Workload:
    def run(self, out: str) -> None:
        self.sink(self.build(), out)


class ZonalNdvi(Workload):
    """load_stac -> ndvi -> monthly median -> zonal mean as one process
    graph through ``execute_graph``, saved as parquet."""

    name = "zonal_ndvi"

    def __init__(self, spark, manifest: dict, root: str, fetch_counters=None):
        self.spark = spark
        self.m = manifest
        self.root = root
        self.fetcher = FileFetcher(root, *(fetch_counters or ()))
        self.out_cells = len(manifest["expected"])

    def graph(self, result: str) -> dict:
        w, s, e, n = self.m["bbox"]
        g = {
            "load": {
                "process_id": "load_stac",
                "arguments": {
                    "url": f"{CDSE}/collections/{COLLECTION}",
                    "spatial_extent": {"west": w, "south": s, "east": e, "north": n},
                    "temporal_extent": [self.m["start"], self.m["end"]],
                    "bands": ["red", "nir"],
                },
            },
            "ndvi": {
                "process_id": "ndvi",
                "arguments": {"data": {"from_node": "load"}},
            },
            "composite": {
                "process_id": "aggregate_temporal_period",
                "arguments": {
                    "data": {"from_node": "ndvi"},
                    "period": "month",
                    "reducer": {
                        "process_graph": {
                            "median": {
                                "process_id": "median",
                                "arguments": {"data": {"from_parameter": "data"}},
                                "result": True,
                            }
                        }
                    },
                },
            },
            "zonal": {
                "process_id": "aggregate_spatial",
                "arguments": {
                    "data": {"from_node": "composite"},
                    "geometries": self.m["zones"],
                    "reducer": "mean",
                },
            },
        }
        g[result]["result"] = True
        return g

    def _execute(self, result: str):
        from openeo_processes_dask_ml_spark.graph.executor import execute_graph

        transport = CannedStac(os.path.join(self.root, "items.json"), CDSE)
        return execute_graph(
            self.graph(result),
            self.spark,
            sf_dir=self.root,
            stac_fetcher=self.fetcher,
            stac_transport=transport,
        )

    def build(self):
        return self._execute("zonal")

    def sink(self, cube, out: str) -> None:
        from openeo_processes_dask_ml_spark.io import load

        load.save_result(
            cube.df, out, "parquet",
            value_col=cube.value_col, dim_cols=list(cube.dims.values()),
        )

    def prefixes(self):
        layers = {
            "io.decode": "load",
            "cube.ndvi": "ndvi",
            "cube.composite": "composite",
            "operators.zonal": "zonal",
        }
        return [(l, lambda n=n: self._execute(n).df) for l, n in layers.items()]

    def check(self, out: str) -> str | None:
        got = pq.read_table(out).to_pandas()
        want = {(z, mon): v for z, mon, v in self.m["expected"]}
        if len(got) != len(want):
            return f"zonal_ndvi: {len(got)} rows, want {len(want)}"
        for z, t, v in zip(got["zone_id"], got["time"], got["value"]):
            key = (int(z), f"{t:%Y-%m}")
            if key not in want or not abs(v - want[key]) <= 1e-6:
                return f"zonal_ndvi: zone {key} = {v}, want {want.get(key)}"
        return None


class TiledInference(Workload):
    """load_stac_ml -> ml_predict (tiled harness, per-worker model
    cache) over a pre-decoded parquet cube, saved as zarr."""

    name = "tiled_inference"

    def __init__(self, spark, manifest: dict, root: str, predict_fn=None):
        self.spark = spark
        self.m = manifest
        self.root = root
        self.predict_fn = predict_fn
        self.expected = np.load(manifest["expected"])
        self.out_cells = int(self.expected.size)

    def graph(self) -> dict:
        predict = {
            "data": _parquet_cube(self.spark, self.m["cube"]),
            "model": {"from_node": "model"},
        }
        if self.predict_fn is not None:
            predict["predict_fn"] = self.predict_fn
        return {
            "model": {
                "process_id": "load_stac_ml",
                "arguments": {"uri": self.m["model_item"]},
            },
            "predict": {
                "process_id": "ml_predict",
                "arguments": predict,
                "result": True,
            },
        }

    def build(self):
        from openeo_processes_dask_ml_spark.graph.executor import execute_graph

        return execute_graph(self.graph(), self.spark, sf_dir=self.root)

    def sink(self, df, out: str) -> None:
        from openeo_processes_dask_ml_spark.io import load

        load.save_result(df, out, "zarr")

    def prefixes(self):
        return [
            ("io.read", lambda: _parquet_cube(self.spark, self.m["cube"]).df),
            ("ml.predict", self.build),
        ]

    def check(self, out: str) -> str | None:
        arr, axes = read_zarr(out, "value")
        if arr.shape != self.expected.shape:
            return f"tiled_inference: shape {arr.shape}, want {self.expected.shape}"
        side = self.expected.shape[1]
        want_t = np.array(self.m["dates"], dtype="datetime64[ns]")
        if not np.array_equal(axes["time"].astype("datetime64[D]"), want_t.astype("datetime64[D]")):
            return "tiled_inference: time axis differs"
        rows = np.rint(side - 0.5 - axes["y"]).astype(int)
        cols = np.rint(axes["x"] - 0.5).astype(int)
        want = self.expected[:, rows][:, :, cols]
        if not np.allclose(arr, want, rtol=1e-9, atol=1e-9):
            return (
                "tiled_inference: max deviation "
                f"{np.nanmax(np.abs(arr - want))} from numpy inference"
            )
        return None


class RfClassify(Workload):
    """The reference's train_rf flow through the package API: monthly
    composite -> aggregate_spatial over a rasterized label table ->
    ml_fit (MLlib RF) -> per-pixel features -> ml_predict -> GeoTIFF."""

    name = "rf_classify"
    accuracy_floor = 0.9

    def __init__(self, spark, manifest: dict, root: str):
        self.spark = spark
        self.m = manifest
        self.root = root
        self.classes = np.load(manifest["classes"])
        self.out_cells = int(self.classes.size)
        self.fitted = None

    def _composite(self):
        return _parquet_cube(self.spark, self.m["cube"]).aggregate_temporal_period(
            "month", "median"
        )

    def _features(self, comp):
        return comp.flatten_dimensions(["time", "bands"], "features", "_").reduce_dimension_array(
            "features", lambda arr: arr
        )

    def _predict(self, feats):
        from pyspark.sql import functions as F

        from openeo_processes_dask_ml_spark.ml import random_forest

        pred = random_forest.ml_predict(self.fitted, feats.df, feature_col="value")
        return pred.select("y", "x", F.col("prediction").cast("double").alias("value"))

    def build(self):
        from openeo_processes_dask_ml_spark.ml import random_forest
        from openeo_processes_dask_ml_spark.operators import aggregate

        comp = self._composite()
        labels = self.spark.read.parquet(self.m["labels"])
        training = aggregate.aggregate_spatial(
            comp, labels, "label_id", ["x", "y"], "mean", properties=["class_name"]
        )
        rf = random_forest.mlm_class_random_forest(
            "sqrt", num_trees=self.m["trees"], seed=self.m["seed"]
        )
        self.fitted = random_forest.ml_fit(rf, training, target="class_name")
        return self._predict(self._features(comp))

    def sink(self, df, out: str) -> None:
        from openeo_processes_dask_ml_spark.io import load

        load.save_result(df, out, "gtiff", value_col="value", dim_cols=["y", "x"])

    def prefixes(self):
        return [
            ("io.read", lambda: _parquet_cube(self.spark, self.m["cube"]).df),
            ("cube.composite", lambda: self._composite().df),
            ("cube.features", lambda: self._features(self._composite()).df),
            ("ml.predict", lambda: self._predict(self._features(self._composite()))),
        ]

    def check(self, out: str) -> str | None:
        from openeo_processes_dask_ml_spark.io.gtiff import decode_gtiff

        tifs = glob.glob(os.path.join(out, "**", "*.tif"), recursive=True)
        if len(tifs) != 1:
            return f"rf_classify: {len(tifs)} GeoTIFFs written, want 1"
        with open(tifs[0], "rb") as f:
            arr, _ = decode_gtiff(f.read())
        if arr.shape != self.classes.shape or np.isnan(arr).any():
            return f"rf_classify: {arr.shape} raster or unpredicted pixels"
        if not np.isin(arr, np.arange(4)).all():
            return "rf_classify: predicted labels outside the class domain"
        acc = float((arr == self.classes).mean())
        valid = self.fitted.metrics["accuracy"] if self.fitted else 1.0
        if min(acc, valid) < self.accuracy_floor:
            return (
                f"rf_classify: accuracy {acc:.3f} (validation {valid:.3f}) "
                f"below {self.accuracy_floor}"
            )
        return None


def read_zarr(path: str, name: str) -> tuple[np.ndarray, dict]:
    """Minimal zarr v2 reader (zlib or raw chunks, C order) for the
    output check: the value array plus its 1-D coordinate arrays."""

    def load(arr_name: str) -> np.ndarray:
        adir = os.path.join(path, arr_name)
        with open(os.path.join(adir, ".zarray")) as f:
            meta = json.load(f)
        shape, chunks = meta["shape"], meta["chunks"]
        dtype = np.dtype(meta["dtype"])
        fill = meta["fill_value"]
        out = np.full(shape, np.nan if fill is None and dtype.kind == "f" else 0, dtype=dtype)
        sep = meta.get("dimension_separator", ".")
        grid = [range(-(-s // c)) for s, c in zip(shape, chunks)]
        for idx in np.ndindex(*[len(g) for g in grid]):
            cpath = os.path.join(adir, sep.join(str(i) for i in idx))
            if not os.path.exists(cpath):
                continue
            with open(cpath, "rb") as f:
                raw = f.read()
            if meta.get("compressor"):
                raw = zlib.decompress(raw)
            block = np.frombuffer(raw, dtype=dtype).reshape(chunks)
            sl = tuple(slice(i * c, min((i + 1) * c, s)) for i, c, s in zip(idx, chunks, shape))
            out[sl] = block[tuple(slice(0, x.stop - x.start) for x in sl)]
        return out

    with open(os.path.join(path, name, ".zattrs")) as f:
        dims = json.load(f)["_ARRAY_DIMENSIONS"]
    return load(name), {d: load(d) for d in dims}


WORKLOADS = {w.name: w for w in (ZonalNdvi, TiledInference, RfClassify)}
