"""Seeded benchmark inputs.

Every generator is a pure function of ``(seed, size)``: the same seed
writes the same bytes. Inputs are cached per seed under
``.perfbench_work/inputs`` in the checkout, never at a fixed ``/tmp``
path, and their generation is kept out of every timed or set-up figure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from cosmospark import codecs, pbf
from cosmospark.fixtures import LUX_H, LUX_W, LUX_X0, LUX_Y0, detailed_lux_zones, lux_osm_world

POINTS_SCHEMA = pa.schema([("pid", pa.int64()), ("lon", pa.float64()), ("lat", pa.float64())])

# cached input sets kept per kind; older seeds are evicted so a sweep over
# many seeds does not fill the disk
_KEEP_PER_KIND = 3


def cached(root: str, kind: str, key: str, make, *args) -> tuple[str, dict]:
    """Return (path, meta) of the input ``kind/key``, generating it on
    first use with ``make(path, *args) -> meta`` in a child process (so
    the generator's memory and threads are gone before anything is
    timed), then syncing it to disk. A ``_DONE`` marker written last
    makes a half-written input (killed run) count as absent."""
    base = os.path.join(root, kind)
    path = os.path.join(base, key)
    done = os.path.join(path, "_DONE")
    if not os.path.exists(done):
        os.makedirs(base, exist_ok=True)
        others = sorted(
            (os.path.join(base, d) for d in os.listdir(base) if d != key),
            key=os.path.getmtime,
        )
        for old in others[: max(0, len(others) - (_KEEP_PER_KIND - 1))]:
            shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), make.__name__, path, json.dumps(args)],
            stdout=subprocess.PIPE, text=True, check=True,
        ).stdout
        meta = json.loads(out.strip().splitlines()[-1])
        meta["gen_s"] = time.perf_counter() - t0
        with open(done, "w") as fh:
            json.dump(meta, fh)
        os.sync()
    os.utime(path)
    with open(done) as fh:
        return path, json.load(fh)


def _write_parquet_parts(path: str, table: pa.Table, n_files: int, row_group: int) -> None:
    # several files of several row groups each: parquet splits at row-group
    # granularity, so this lets the scan run as wide as the cores
    n = table.num_rows
    step = -(-n // n_files)
    for i, s in enumerate(range(0, n, step)):
        pq.write_table(
            table.slice(s, step),
            os.path.join(path, f"part-{i:05d}.parquet"),
            compression="snappy",
            row_group_size=row_group,
        )


def uniform_points(path: str, seed: int, n: int, n_files: int) -> dict:
    """``n`` points uniform over the lux box, pids from a seeded offset."""
    rng = np.random.default_rng([seed, 1])
    pid0 = int(rng.integers(0, 1 << 40))
    t = pa.table(
        {
            "pid": np.arange(pid0, pid0 + n, dtype=np.int64),
            "lon": LUX_X0 + rng.random(n) * LUX_W,
            "lat": LUX_Y0 + rng.random(n) * LUX_H,
        },
        schema=POINTS_SCHEMA,
    )
    _write_parquet_parts(path, t, n_files, 65_536)
    return {"rows": n, "pid0": pid0}


def megacity_points(path: str, seed: int, n: int, n_files: int, hot_frac: float = 0.7) -> dict:
    """``n`` points of which ``hot_frac`` fall in the bounding boxes of two
    seed-chosen level-8 communes (the "megacities"); the rest are uniform
    over the lux box. Rows are shuffled so the hot points spread over
    every file, as a real fact table's would. The megacities are drawn
    from the 79 full-size communes that hold a locality, so every seed
    asks for the same kind of work."""
    rng = np.random.default_rng([seed, 2])
    communes = [z for z in detailed_lux_zones(n_vertices=8) if z["admin_level"] == 8][:79]
    hot = rng.choice(len(communes), size=2, replace=False)
    n_hot = int(n * hot_frac)
    lon = LUX_X0 + rng.random(n) * LUX_W
    lat = LUX_Y0 + rng.random(n) * LUX_H
    which = rng.integers(0, 2, n_hot)
    for k, ci in enumerate(hot):
        b = communes[ci]["bbox"]
        m = which == k
        cnt = int(m.sum())
        lon[:n_hot][m] = b["minx"] + rng.random(cnt) * (b["maxx"] - b["minx"])
        lat[:n_hot][m] = b["miny"] + rng.random(cnt) * (b["maxy"] - b["miny"])
    perm = rng.permutation(n)
    pid0 = int(rng.integers(0, 1 << 40))
    t = pa.table(
        {
            "pid": np.arange(pid0, pid0 + n, dtype=np.int64),
            "lon": lon[perm],
            "lat": lat[perm],
        },
        schema=POINTS_SCHEMA,
    )
    _write_parquet_parts(path, t, n_files, 65_536)
    return {"rows": n, "pid0": pid0, "hot_communes": [communes[i]["osm_id"] for i in hot]}


# -- image table ---------------------------------------------------------

IMAGE_PX = 16


def expected_pixels(pid: np.ndarray) -> np.ndarray:
    """The pixel content ``imagejob.image_pipeline`` verifies each image
    against: an LCG keyed on the image id, (n, px, px, 3) uint8."""
    px = IMAGE_PX
    k = px * px * 3
    idx = np.arange(k, dtype=np.uint64) * np.uint64(2654435761)
    seed = pid.astype(np.uint64) * np.uint64(6364136223846793005) + np.uint64(1442695040888963407)
    v = seed[:, None] + idx[None, :]
    v *= np.uint64(6364136223846793005)
    v >>= np.uint64(33)
    v &= np.uint64(0xFF)
    return v.astype(np.uint8).reshape(len(pid), px, px, 3)


def images(path: str, seed: int, n: int, n_files: int, chunk: int = 25_000) -> dict:
    """The image fact table in ``imagejob.IMAGES_BENCH_SCHEMA``, ids from a
    seed-derived offset: even ids raw-coded, odd ids lossy-coded, phash
    and caption as the pipeline recomputes them, points uniform over the
    lux box. Written in row groups of 6 250 so the compute-dense scan
    splits finely."""
    from cosmospark.imagejob import IMAGES_BENCH_SCHEMA

    rng = np.random.default_rng([seed, 3])
    pid0 = int(rng.integers(0, 1 << 40)) * 2
    per_file = -(-n // n_files)
    for fi, fstart in enumerate(range(0, n, per_file)):
        parts = []
        for s in range(fstart, min(n, fstart + per_file), chunk):
            m = min(chunk, n - s, fstart + per_file - s)
            pid = np.arange(pid0 + s, pid0 + s + m, dtype=np.int64)
            pix = expected_pixels(pid)
            raw = pid % 2 == 0
            header = b"CSR1" + np.uint16(IMAGE_PX).tobytes() * 2
            blobs: list = [None] * m
            for i in np.nonzero(raw)[0]:
                blobs[i] = header + pix[i].tobytes()
            for i, b in zip(np.nonzero(~raw)[0], codecs.encode_lossy_batch(pix[~raw])):
                blobs[i] = b
            parts.append(
                pa.table(
                    {
                        "pid": pid,
                        "bytes": blobs,
                        "fmt": np.where(raw, "raw", "lossy").tolist(),
                        "caption": [f"img {p} cat{p % 7}" for p in pid.tolist()],
                        "phash": np.asarray(codecs.phash64_batch(pix), dtype=np.int64),
                        "lon": LUX_X0 + rng.random(m) * LUX_W,
                        "lat": LUX_Y0 + rng.random(m) * LUX_H,
                    },
                    schema=IMAGES_BENCH_SCHEMA,
                )
            )
        pq.write_table(
            pa.concat_tables(parts),
            os.path.join(path, f"part-{fi:05d}.parquet"),
            compression="snappy",
            row_group_size=6_250,
        )
    return {"rows": n, "pid0": pid0}


# -- OSM PBF -------------------------------------------------------------


def lux_pbf(path: str, seed: int) -> dict:
    """The lux OSM world as ``.osm.pbf``; the seed sets the entity order
    inside each kind and ``nodes_per_block``. Neither changes the zones a
    correct reader builds."""
    rng = np.random.default_rng([seed, 4])
    w = lux_osm_world()
    nodes = [(nid, lon, lat, tags) for nid, lon, lat, tags in w["nodes"]]
    ways = [(wid, refs, {}) for wid, refs in w["ways"]]
    members: dict[int, list] = {}
    for rid, wid, role in w["rel_members"]:
        members.setdefault(rid, []).append(("way", wid, role))
    for rid, nid, role in w["rel_node_members"]:
        members.setdefault(rid, []).append(("node", nid, role))
    relations = [(rid, tags, members.get(rid, [])) for rid, tags in w["relations"]]
    nodes = [nodes[i] for i in rng.permutation(len(nodes))]
    ways = [ways[i] for i in rng.permutation(len(ways))]
    relations = [relations[i] for i in rng.permutation(len(relations))]
    per_block = int(rng.integers(100, 1200))
    out = os.path.join(path, "lux.osm.pbf")
    pbf.write_osm_pbf(out, nodes, ways, relations, compress=True, nodes_per_block=per_block)
    return {
        "rows": len(nodes) + len(ways) + len(relations),
        "file": "lux.osm.pbf",
        "nodes_per_block": per_block,
        "bytes": os.path.getsize(out),
    }


if __name__ == "__main__":
    # child side of ``cached``: inputs.py <generator> <path> <json args>
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    print(json.dumps(globals()[sys.argv[1]](sys.argv[2], *json.loads(sys.argv[3]))))
