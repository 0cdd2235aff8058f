"""The benchmark's model: a per-pixel two-layer MLP in plain numpy.

It is pickled by the input generator and unpickled by the package's
scikit-learn executor on each Python worker, so this module must be
importable there (the benchmark's session puts its directory on the
worker path). ``STATS`` counts unpickles, predict calls, tiles and
seconds inside ``predict`` in the worker process; the traced run reads
the deltas around each call and ships them home in accumulators.
"""

from __future__ import annotations

import time

import numpy as np

STATS = {"loads": 0, "calls": 0, "tiles": 0, "seconds": 0.0}


class PixelMLP:
    """y = w2 . tanh(W1 x + b1) + b2 over the band vector of each pixel."""

    def __init__(self, w1, b1, w2, b2):
        self.w1, self.b1, self.w2, self.b2 = w1, b1, w2, b2

    @classmethod
    def random(cls, rng: np.random.Generator, n_in: int, hidden: int):
        return cls(
            rng.normal(0.0, 1.0 / 3000.0, (hidden, n_in)),
            rng.normal(0.0, 0.5, hidden),
            rng.normal(0.0, 1.0, hidden),
            float(rng.normal()),
        )

    def __setstate__(self, state):
        self.__dict__.update(state)
        STATS["loads"] += 1

    def predict(self, batch: np.ndarray) -> np.ndarray:
        """(n, bands, y, x) -> (n, y, x)."""
        t0 = time.perf_counter()
        x = np.moveaxis(np.asarray(batch, dtype=np.float64), 1, -1)
        h = np.tanh(x @ self.w1.T + self.b1)
        out = h @ self.w2 + self.b2
        STATS["calls"] += 1
        STATS["tiles"] += int(batch.shape[0])
        STATS["seconds"] += time.perf_counter() - t0
        return out
