"""Seeded generator of trips CSV files in the reference ``trips.csv`` shape.

Every row is ``region,origin_coord,destination_coord,datetime,datasource``
with WKT ``POINT (lon lat)`` coordinates printed to 14 decimals and a
``YYYY-MM-DD HH:MM:SS`` timestamp. Regions carry uneven (Zipf) weights,
and batches mix fresh rows with duplicates inside the batch and re-sends
of rows from earlier batches. Each generator records the fresh rows it
emitted, so the expected distinct ``trip_key`` set of a run is known
without asking the system under test.

The benchmark runs this file as a child process before set-up, so the
generated rows never count in the benchmark process's memory:

    python3 gen.py --out DIR --seed 1 --batches 3 --rows 5000

writes ``DIR/batch0.csv`` ... ``DIR/batch2.csv`` and ``DIR/keys.json``:
a sample of the ``trip_key`` of fresh rows of each batch (``present``)
and keys that no batch emits (``absent``), for point lookups.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os

import numpy as np

HEADER = "region,origin_coord,destination_coord,datetime,datasource"

# (name, centre lon, centre lat); the first three are the reference's.
REGIONS = (
    ("Prague", 14.44, 50.07),
    ("Turin", 7.68, 45.07),
    ("Hamburg", 9.99, 53.55),
    ("Milan", 9.19, 45.46),
    ("Vienna", 16.37, 48.21),
    ("Berlin", 13.40, 52.52),
)
DATASOURCES = (
    "funny_car", "baba_car", "cheap_mobile", "bad_diesel_vehicles",
    "pt_search_app",
)
# Spread of trip endpoints around a region centre, in degrees.
SPREAD_DEG = 0.06
MAY_2018 = dt.datetime(2018, 5, 1)
MAY_SECONDS = 31 * 86400


def region_weights(skew: float) -> np.ndarray:
    w = 1.0 / np.arange(1, len(REGIONS) + 1) ** skew
    return w / w.sum()


def trip_key(row: tuple) -> str:
    """The system's ``trip_key``: md5 over the '|'-joined columns."""
    return hashlib.md5("|".join(row).encode()).hexdigest()


def _fresh_rows(rng: np.random.Generator, n: int, weights: np.ndarray,
                t0: float, span_s: float) -> list[tuple]:
    reg = rng.choice(len(REGIONS), size=n, p=weights)
    lon0 = np.array([r[1] for r in REGIONS])[reg]
    lat0 = np.array([r[2] for r in REGIONS])[reg]
    pts = rng.normal(0.0, SPREAD_DEG, size=(4, n))
    secs = (t0 + rng.random(n) * span_s).astype(np.int64)
    ds = rng.choice(len(DATASOURCES), size=n,
                    p=[0.3, 0.25, 0.2, 0.15, 0.1])
    olon, olat = lon0 + pts[0], lat0 + pts[1]
    dlon, dlat = lon0 + pts[2], lat0 + pts[3]
    return [
        (
            REGIONS[reg[i]][0],
            f"POINT ({olon[i]:.14f} {olat[i]:.14f})",
            f"POINT ({dlon[i]:.14f} {dlat[i]:.14f})",
            (MAY_2018 + dt.timedelta(seconds=int(secs[i]))).strftime(
                "%Y-%m-%d %H:%M:%S"),
            DATASOURCES[ds[i]],
        )
        for i in range(n)
    ]


def write_csv(path: str, rows: list[tuple]) -> None:
    with open(path, "w") as f:
        f.write(HEADER + "\n")
        f.writelines(",".join(r) + "\n" for r in rows)


class TripBatches:
    """Seeded stream of staged trip batches.

    Batch ``i`` holds ``batch_rows`` rows: a ``resend_share`` of them are
    re-sends of rows from earlier batches, an ``in_batch_dup_share`` are
    repeats of fresh rows of the same batch, and the rest are fresh.
    Event times are uniform over May 2018 unless ``drop_window_s`` is
    set: then batch ``i`` covers ``[i * drop_step_s, i * drop_step_s +
    drop_window_s)`` seconds after 2018-05-01, so event time advances
    from batch to batch. Re-sends are then drawn from the previous batch
    only, so no row trails the latest event time seen before it by more
    than ``drop_window_s``: a watermark delay above that drops nothing
    as late.
    """

    def __init__(self, seed: int, batch_rows: int, skew: float = 1.0,
                 in_batch_dup_share: float = 0.1, resend_share: float = 0.1,
                 drop_window_s: float | None = None,
                 drop_step_s: float | None = None):
        self.rng = np.random.default_rng(seed)
        self.batch_rows = batch_rows
        self.weights = region_weights(skew)
        self.in_batch_dup_share = in_batch_dup_share
        self.resend_share = resend_share
        self.drop_window_s = drop_window_s
        self.drop_step_s = drop_step_s
        self.fresh: list[list[tuple]] = []  # fresh rows of each batch

    def next_batch(self, rows: int | None = None) -> list[tuple]:
        """The next batch, of ``rows`` rows instead of ``batch_rows``
        when given."""
        i = len(self.fresh)
        n = rows or self.batch_rows
        n_resend = int(n * self.resend_share) if i else 0
        n_dup = int(n * self.in_batch_dup_share)
        n_fresh = n - n_resend - n_dup
        if self.drop_window_s is None:
            t0, span = 0.0, float(MAY_SECONDS)
        else:
            t0, span = i * self.drop_step_s, self.drop_window_s
        fresh = _fresh_rows(self.rng, n_fresh, self.weights, t0, span)
        self.fresh.append(fresh)
        out = list(fresh)
        out += [fresh[j] for j in self.rng.integers(0, n_fresh, n_dup)]
        if n_resend:
            pool = (self.fresh[-2] if self.drop_window_s is not None
                    else [r for b in self.fresh[:-1] for r in b])
            out += [pool[j] for j in self.rng.integers(0, len(pool), n_resend)]
        return [out[j] for j in self.rng.permutation(len(out))]


def absent_row(rng: np.random.Generator) -> tuple:
    """A trip that no batch emits: its timestamp falls in June 2018."""
    row = _fresh_rows(rng, 1, region_weights(1.0), MAY_SECONDS + 86400, 3600.0)
    return row[0]


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description="write seeded trips batches")
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--batches", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True,
                    help="rows per batch")
    ap.add_argument("--first-rows", type=int,
                    help="rows of batch 0, when it differs")
    ap.add_argument("--drop-window-s", type=float)
    ap.add_argument("--drop-step-s", type=float)
    ap.add_argument("--key-sample", type=int, default=64,
                    help="lookup keys kept per batch")
    args = ap.parse_args(argv)
    batches = TripBatches(args.seed, args.rows,
                          drop_window_s=args.drop_window_s,
                          drop_step_s=args.drop_step_s)
    rng = np.random.default_rng(args.seed + 2)
    present = []
    for i in range(args.batches):
        rows = batches.next_batch(args.first_rows if i == 0 else None)
        write_csv(os.path.join(args.out, f"batch{i}.csv"), rows)
        fresh = batches.fresh[-1]
        pick = rng.choice(len(fresh), min(args.key_sample, len(fresh)),
                          replace=False)
        present.append([trip_key(fresh[j]) for j in pick])
    absent = [trip_key(absent_row(rng)) for _ in range(args.key_sample)]
    with open(os.path.join(args.out, "keys.json"), "w") as f:
        json.dump({"present": present, "absent": absent}, f)


if __name__ == "__main__":
    main()
