"""Seeded listings-CSV snapshots for the ETL workload.

Each file carries the 18 data columns of the reference DDL (FIXTURES.md §1)
with a header row, ``\\N`` for NULL and QUOTE_MINIMAL quoting, and the
failure-mode rows the reference documents: NULL-heavy ``price`` (about one
row in five), NULL ``last_review``/``reviews_per_month`` when a listing has
no reviews, mostly-NULL ``license`` and ``neighbourhood_group``, and
commas and double quotes inside ``name``.

``generate`` returns the row count and NULL-price count of every file, the
ground truth the ETL correctness check compares the warehouse and export
with.  Same seed, same bytes.
"""

from __future__ import annotations

import csv
import io
import os

import numpy as np

# words that make up listing names
VOCAB = (
    "a the agg batch big column customer data fast filter group hash join"
    " key line merge order part query row scan slow small sort spark stream"
    " table value vector window"
).split()

NULL = "\\N"
HEADER = [
    "id", "name", "host_id", "host_name", "neighbourhood_group",
    "neighbourhood", "latitude", "longitude", "room_type", "price",
    "minimum_nights", "last_review", "reviews_per_month", "number_of_reviews",
    "calculated_host_listings_count", "availability_365",
    "number_of_reviews_ltm", "license",
]
ROOM_TYPES = ["Entire home/apt", "Private room", "Shared room", "Hotel room"]
HOODS = [f"Neighbourhood {i}" for i in range(40)]
HOSTS = ["Ana", "Bo", "Chen", "Dee", "Eli", "Femi", "Gus", "Hana"]


def _snapshot(rng: np.random.Generator, first_id: int, n: int) -> tuple[str, int]:
    ids = first_id + np.arange(n)
    price_null = rng.random(n) < 0.2
    prices = np.round(rng.uniform(20, 900, n), 2)
    n_reviews = np.where(rng.random(n) < 0.3, 0, rng.integers(1, 500, n))
    review_day = rng.integers(0, 3650, n)
    rpm = np.round(rng.uniform(0.01, 9.0, n), 2)
    lat = np.round(rng.uniform(40.5, 40.9, n), 7)
    lon = np.round(rng.uniform(-74.2, -73.7, n), 7)
    words = rng.integers(0, len(VOCAB), (n, 3))
    flavour = rng.integers(0, 10, n)
    host = rng.integers(0, len(HOSTS), n)
    buf = io.StringIO()
    w = csv.writer(buf, quoting=csv.QUOTE_MINIMAL, lineterminator="\n")
    w.writerow(HEADER)
    for i in range(n):
        name = " ".join(VOCAB[j] for j in words[i])
        if flavour[i] == 0:
            name = f"{name}, near {VOCAB[words[i][0]]}"  # quoted comma
        elif flavour[i] == 1:
            name = f'"{name}" loft'  # embedded double quotes
        reviewed = n_reviews[i] > 0
        w.writerow([
            int(ids[i]),
            name,
            int(1000 + ids[i] % 5000),
            HOSTS[host[i]],
            NULL,
            HOODS[int(ids[i] % len(HOODS))],
            f"{lat[i]:.7f}",
            f"{lon[i]:.7f}",
            ROOM_TYPES[int(words[i][1] % 4)],
            NULL if price_null[i] else f"{prices[i]:.2f}",
            int(1 + words[i][2] % 30),
            (np.datetime64("2014-01-01") + int(review_day[i])).astype(str)
            if reviewed else NULL,
            f"{rpm[i]:.2f}" if reviewed else NULL,
            int(n_reviews[i]),
            int(1 + host[i]),
            int(review_day[i] % 366),
            int(n_reviews[i] // 10),
            f"LIC-{ids[i]}" if flavour[i] == 2 else NULL,
        ])
    return buf.getvalue(), int(price_null.sum())


def generate(out_dir: str, seed: int, n_files: int, rows_per_file: int) -> dict:
    """Write ``n_files`` snapshot CSVs; returns paths, rows, NULL prices."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    paths, null_prices = [], 0
    for f in range(n_files):
        text, nulls = _snapshot(rng, f * rows_per_file, rows_per_file)
        path = os.path.join(out_dir, f"listings_{f:02d}.csv")
        with open(path, "w", encoding="utf-8", newline="") as fh:
            fh.write(text)
        paths.append(path)
        null_prices += nulls
    return {
        "paths": paths,
        "rows": n_files * rows_per_file,
        "null_prices": null_prices,
        "bytes": sum(os.path.getsize(p) for p in paths),
    }
