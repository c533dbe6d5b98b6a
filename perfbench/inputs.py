"""Seeded inputs of the benchmark, made with numpy only.

Nothing here imports the engine, so a change to the engine cannot change
what is measured.  Every generator takes a ``numpy.random.Generator``;
``stream(seed, name)`` gives each purpose its own independent stream, so
adding a draw to one input never shifts another.
"""

from __future__ import annotations

import zlib

import numpy as np
import pyarrow as pa

K = 10  # neighbours per point, self included (the engine's graph contract)

# Clustered ("urban skew") domain: lon/lat degrees.
LON = (-180.0, 180.0)
LAT = (-90.0, 90.0)
N_CITIES = 40
CITY_ZIPF = 1.1  # city weight ~ 1 / rank^1.1
CITY_SIGMA = (0.3, 2.5)  # degrees
RURAL_SHARE = 0.10  # uniform background
UNTAGGED_SHARE = 0.10  # pages with no geotag (dropped by extraction)

# Uniform domain of the reference's randomized test (lib/tests/random.rs).
UNIFORM = (-100.0, 100.0)

# Diamond tiles |x-cx| + |y-cy| <= r over the clustered domain; centres and
# radius are exact binary fractions so the closed-form test is exact.
TILE_STEP = 10.0
TILE_R = 7.5


def stream(seed: int, name: str) -> np.random.Generator:
    return np.random.default_rng([int(seed), zlib.crc32(name.encode())])


def unique_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct ids in a shuffled order (not a dense 0..n-1 range)."""
    return rng.permutation(n).astype(np.int64) * 7919 + 13


class Cities:
    """A mixture of Gaussian cities plus a uniform rural share.  The city
    layout is fixed, like the real world's: seeds draw the pages, points
    and queries from it, so every seed poses a problem of the same
    difficulty."""

    def __init__(self):
        rng = stream(0, "world")
        self.cx = rng.uniform(LON[0] * 0.8, LON[1] * 0.8, N_CITIES)
        self.cy = rng.uniform(LAT[0] * 0.8, LAT[1] * 0.8, N_CITIES)
        self.sigma = rng.uniform(*CITY_SIGMA, N_CITIES)
        w = 1.0 / np.arange(1, N_CITIES + 1) ** CITY_ZIPF
        self.w = w / w.sum()

    def sample(self, rng: np.random.Generator, n: int) -> np.ndarray:
        c = rng.choice(N_CITIES, size=n, p=self.w)
        xy = np.column_stack(
            [
                self.cx[c] + self.sigma[c] * rng.standard_normal(n),
                self.cy[c] + self.sigma[c] * rng.standard_normal(n),
            ]
        )
        rural = rng.random(n) < RURAL_SHARE
        xy[rural] = uniform_lonlat(rng, int(rural.sum()))
        xy[:, 0] = np.clip(xy[:, 0], LON[0], LON[1])
        xy[:, 1] = np.clip(xy[:, 1], LAT[0], LAT[1])
        return xy


def uniform_lonlat(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.column_stack([rng.uniform(*LON, n), rng.uniform(*LAT, n)])


def uniform_square(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.uniform(UNIFORM[0], UNIFORM[1], size=(n, 2))


def pages_table(rng: np.random.Generator, n: int) -> tuple[pa.Table, np.ndarray, np.ndarray]:
    """Common-Crawl-style pages: (url, warc_ts, html, text, lang, page_id).

    The geotag sits in the html as ``<meta name="geo.position"
    content="lat;lon">``, written with Python's shortest round-trip float
    repr so the extracted doubles are bit-exact.  Returns the table and the
    reference (ids, xy) of the tagged pages."""
    ids = unique_ids(rng, n)
    xy = Cities().sample(rng, n)
    tagged = rng.random(n) >= UNTAGGED_SHARE
    hosts = rng.zipf(1.3, n) % 997
    words = np.array("the of and to in is that with for data web page map city".split())
    body_idx = rng.integers(0, len(words), size=(n, 12))
    urls, htmls, texts = [], [], []
    for i in range(n):
        pid = int(ids[i])
        body = " ".join(words[body_idx[i]])
        geo = (
            f'<meta name="geo.position" content="{float(xy[i, 1])!r};{float(xy[i, 0])!r}">'
            if tagged[i]
            else ""
        )
        urls.append(f"https://site{int(hosts[i])}.example/p/{pid}")
        htmls.append(
            f'<!DOCTYPE html><html><head><meta charset="utf-8">{geo}'
            f"<title>Page {pid}</title></head><body><p>{body}</p></body></html>".encode()
        )
        texts.append(f"Page {pid}\n{body}")
    ts = np.datetime64("2024-10-08T00:00:00", "us") + (
        rng.integers(0, 30 * 86400, n) * 1_000_000
    ).astype("timedelta64[us]")
    table = pa.table(
        {
            "url": urls,
            "warc_ts": pa.array(ts),
            "html": pa.array(htmls, pa.binary()),
            "text": texts,
            "lang": np.array(["en", "de", "fr", "es"])[rng.integers(0, 4, n)],
            "page_id": ids,
        }
    )
    return table, ids[tagged], xy[tagged]


def diamond_tiles() -> tuple[list, np.ndarray]:
    """Tiles for ``assign_tiles``: [(tile_id, [4 vertices])] and their
    centres as an array (tile_id order)."""
    cxs = np.arange(LON[0], LON[1] + 1e-9, TILE_STEP)
    cys = np.arange(LAT[0], LAT[1] + 1e-9, TILE_STEP)
    tiles, centres = [], []
    for cy in cys.tolist():
        for cx in cxs.tolist():
            tid = len(tiles)
            r = TILE_R
            tiles.append(
                (tid, [(cx + r, cy), (cx, cy + r), (cx - r, cy), (cx, cy - r)])
            )
            centres.append((cx, cy))
    return tiles, np.array(centres)


# --- serve workload -------------------------------------------------------

DENSITY_SHARE = 0.6  # follow the data density
REPEAT_SHARE = 0.2  # exact repeats of earlier query points
# the rest (0.2) is uniform over the extent
RANGE_RADIUS = 0.25  # degrees

# One round of the serve workload: (kind, size).  ``fold`` applies and
# commits one micro-batch of ``size`` insert/delete ops to the churn index
# and ``knn.churn`` queries the state it committed; the other kinds query
# the clustered index.  Every run attempts whole rounds, so each kind and
# size keeps its share however long the run is.  Most query batches are
# small; one is bulk.  A run times one round, so the round holds six
# small kNN batches for the small-batch median to rest on: a batch whose
# uniform points leave stragglers for the engine's brute-force tail takes
# ~0.5-1 s longer, and with four small batches a round's median moved by
# up to 30 % with the number of such batches.
CHURN_BATCH = 20  # insert/delete ops per micro-batch (1 % of the churn index)
CHURN_KNN = 10  # query points per kNN batch on a newly committed state
SERVE_ROUND = (
    ("fold", CHURN_BATCH),
    ("knn.churn", CHURN_KNN),
    ("knn", 8),
    ("range", 16),
    ("knn", 16),
    ("rknn", 16),
    ("knn", 12),
    ("knn", 24),
    ("knn", 8),
    ("knn", 2000),
)
BULK = 1000  # batches of at least this many points count as bulk


class QueryPlan:
    """Seeded sequence of query batches over a clustered index.  Each
    batch holds the same shares of density-following, repeated and
    uniform points (rounded), in shuffled order."""

    def __init__(self, seed: int, cities: Cities):
        self.rng = stream(seed, "query-plan")
        self.cities = cities
        self.pool = np.empty((0, 2))
        self.next_qid = 0

    def points(self, n: int) -> np.ndarray:
        rng = self.rng
        n_rep = round(REPEAT_SHARE * n) if len(self.pool) else 0
        n_uni = round((1.0 - DENSITY_SHARE - REPEAT_SHARE) * n)
        fresh = np.concatenate(
            [self.cities.sample(rng, n - n_rep - n_uni), uniform_lonlat(rng, n_uni)]
        )
        rep = self.pool[rng.integers(0, len(self.pool), n_rep)] if n_rep else np.empty((0, 2))
        self.pool = np.concatenate([self.pool, fresh])[-20_000:]
        return rng.permutation(np.concatenate([fresh, rep]))

    def batch(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        qids = np.arange(self.next_qid, self.next_qid + n, dtype=np.int64)
        self.next_qid += n
        return qids, self.points(n)


# --- churn ops (serve workload) ------------------------------------------

P_DELETE = 0.2  # the reference's insert/delete mix (lib/tests/random.rs)


class OpStream:
    """Seeded insert/delete stream in fixed-size micro-batches.

    Each op deletes, with probability 0.2, a point chosen uniformly among
    those live when the batch opens, and otherwise inserts a uniform point
    in [-100, 100)^2 under a fresh id.  Drawing deletes from the points
    live at batch open means no op in a batch cancels another, so every
    batch carries exactly ``batch_size`` ops."""

    def __init__(self, seed: int, live_ids: np.ndarray, live_xy: np.ndarray, batch_size: int):
        self.rng = stream(seed, "ops")
        self.batch_size = batch_size
        self.live = {int(i): (float(x), float(y)) for i, (x, y) in zip(live_ids, live_xy)}
        self.next_id = int(live_ids.max()) + 1

    def next_batch(self) -> tuple[list[tuple[int, float, float]], list[int]]:
        rng = self.rng
        is_del = rng.random(self.batch_size) < P_DELETE
        n_del = int(is_del.sum())
        live_sorted = np.fromiter(sorted(self.live), np.int64, len(self.live))
        dels = [int(i) for i in rng.choice(live_sorted, n_del, replace=False)]
        xy = uniform_square(rng, self.batch_size - n_del)
        ins = []
        for x, y in xy:
            ins.append((self.next_id, float(x), float(y)))
            self.next_id += 1
        for d in dels:
            del self.live[d]
        for pid, x, y in ins:
            self.live[pid] = (x, y)
        return ins, dels

    def live_arrays(self) -> tuple[np.ndarray, np.ndarray]:
        ids = np.fromiter(self.live.keys(), np.int64, len(self.live))
        xy = np.array(list(self.live.values()), dtype=np.float64).reshape(-1, 2)
        return ids, xy
