"""Benchmark-owned I/O endpoints: the canned STAC catalog and the file
fetcher behind ``load_stac``.

``CannedStac`` answers the two catalog requests the package's STAC
client makes (collection listing, item search) from the generated
``items.json``; it runs on the driver only. ``FileFetcher`` maps
``bench://<relative path>`` hrefs to files under the input directory
and runs inside the decode tasks on the Python workers; with counters
attached (traced mode) it adds one to ``calls`` and the payload size to
``bytes`` per fetch, through Spark accumulators.
"""

from __future__ import annotations

import json
import os

SCHEME = "bench://"


class CannedStac:
    def __init__(self, items_path: str, root_url: str):
        with open(items_path) as f:
            doc = json.load(f)
        self.collection = doc["collection"]
        self.features = doc["features"]
        self.root = root_url.rstrip("/")

    def __call__(self, url: str, body: dict | None = None) -> dict:
        if url == f"{self.root}/collections":
            return {"collections": [{"id": self.collection}], "links": []}
        if url == f"{self.root}/search":
            return {"features": self.features, "links": []}
        raise ValueError(f"canned catalog has no answer for {url}")


class FileFetcher:
    def __init__(self, root: str, calls=None, nbytes=None):
        self.root = root
        self.calls = calls
        self.nbytes = nbytes

    def __call__(self, href: str) -> bytes:
        if not href.startswith(SCHEME):
            raise ValueError(f"not a benchmark href: {href}")
        with open(os.path.join(self.root, href[len(SCHEME):]), "rb") as f:
            payload = f.read()
        if self.calls is not None:
            self.calls.add(1)
            self.nbytes.add(len(payload))
        return payload
