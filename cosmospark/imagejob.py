"""The full image fact-table job: decode → invariant check → phash →
H3-encode → PIP zone assignment, fused into one Arrow pass.

This is the representative 100 TB workload (BASELINE.json input_hint):
the fact table carries binary image payloads, and per-row work is
compute-dense (codec + DCT phash) relative to exchange bytes — which is
what makes the job scale with cores (the thin points-only PIP path is
exchange-bound on a single box; see BENCH/BASELINE.md).

Also provides a fast pyarrow-direct generator for the synthetic image
parquet (no Spark job needed to build bench inputs).
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, functions as F, types as T

from cosmospark import cells, codecs
from cosmospark.assign import DEFAULT_RESOLUTIONS, DEFAULT_TILE_Z, ZoneDim, zone_dim

# lux world box (fixtures.py)
_X0, _Y0, _W, _H = 2.0, 44.0, 13.0, 10.0


_IDX_CACHE: dict = {}


def _pixels_for(pid: np.ndarray, px: int) -> np.ndarray:
    """Deterministic per-id pixel content: (n, px, px, 3) uint8 via a
    vectorized LCG keyed on image id — reproducible on any executor
    without shipping the originals (used for the allclose invariant).

    The kernel is memory-bandwidth-bound (n×768 uint64 rows), so the
    idx term is cached per px and every op after the first broadcast-add
    runs in place: ONE large temporary instead of four."""
    n = len(pid)
    k = px * px * 3
    idxm = _IDX_CACHE.get(px)
    if idxm is None:
        idxm = np.arange(k, dtype=np.uint64) * np.uint64(2654435761)
        _IDX_CACHE[px] = idxm
    seed = pid.astype(np.uint64) * np.uint64(6364136223846793005) + np.uint64(1442695040888963407)
    v = seed[:, None] + idxm[None, :]
    v *= np.uint64(6364136223846793005)
    v >>= np.uint64(33)
    v &= np.uint64(0xFF)
    return v.astype(np.uint8).reshape(n, px, px, 3)


def _coords_for(pid: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    lon = _X0 + (pid * 7919 % 1300) / 100.0
    lat = _Y0 + (pid * 104729 % 1000) / 100.0
    return lon.astype(np.float64), lat.astype(np.float64)


IMAGES_BENCH_SCHEMA = pa.schema(
    [
        ("pid", pa.int64()),
        ("bytes", pa.binary()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
        ("lon", pa.float64()),
        ("lat", pa.float64()),
    ]
)


def _chunk_table(start: int, m: int, px: int) -> pa.Table:
    pid = np.arange(start, start + m, dtype=np.int64)
    pix = _pixels_for(pid, px)
    lon, lat = _coords_for(pid)
    hashes = codecs.phash64_batch(pix)
    raw_mask = pid % 2 == 0
    header = b"CSR1" + np.uint16(px).tobytes() + np.uint16(px).tobytes()
    raw_blobs = [header + pix[i].tobytes() for i in np.nonzero(raw_mask)[0]]
    lossy_blobs = codecs.encode_lossy_batch(pix[~raw_mask])
    blobs: list = [None] * m
    for j, i in enumerate(np.nonzero(raw_mask)[0]):
        blobs[i] = raw_blobs[j]
    for j, i in enumerate(np.nonzero(~raw_mask)[0]):
        blobs[i] = lossy_blobs[j]
    return pa.table(
        {
            "pid": pid,
            "bytes": blobs,
            "fmt": np.where(raw_mask, "raw", "lossy").tolist(),
            "caption": [f"img {p} cat{p % 7}" for p in pid],
            "phash": np.asarray(hashes, dtype=np.int64),
            "lon": lon,
            "lat": lat,
        },
        schema=IMAGES_BENCH_SCHEMA,
    )


def gen_images_parquet(
    path: str,
    n_rows: int,
    px: int = 16,
    chunk: int = 50_000,
    row_group_size: int = 6_250,
) -> str:
    """Write the synthetic image fact table. For > 1 chunk, ``path``
    becomes a parquet DIRECTORY with one file per chunk, so the Spark
    scan parallelizes across executors without a repartition shuffle.
    Even pids raw-coded, odd pids lossy-coded.

    ``row_group_size`` matters more than file count: parquet splits at
    ROW-GROUP granularity, so a 50k-row file written as one row group is
    one indivisible task no matter how many byte-range partitions Spark
    carves (measured: 4 files x 1 row group ran the 200k-row pipeline
    4-wide on 32 cores, 6.4 s; the same data in 6250-row groups, 1.4 s).
    At 100 TB the same rule holds: size row groups so one group's decode
    cost is a good task quantum, or compute-dense scans underparallelize."""
    if n_rows > chunk:
        os.makedirs(path, exist_ok=True)
        for fi, start in enumerate(range(0, n_rows, chunk)):
            m = min(chunk, n_rows - start)
            pq.write_table(
                _chunk_table(start, m, px),
                os.path.join(path, f"part-{fi:05d}.parquet"),
                compression="snappy",
                row_group_size=row_group_size,
            )
        return path
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(
        _chunk_table(0, n_rows, px),
        path,
        compression="snappy",
        row_group_size=row_group_size,
    )
    return path


_OUT_SCHEMA = T.StructType(
    [
        T.StructField("pid", T.LongType()),
        T.StructField("zone_id", T.LongType()),
        T.StructField("cell_r4", T.LongType()),
        T.StructField("cell_r7", T.LongType()),
        T.StructField("cell_r9", T.LongType()),
        T.StructField("tile_id", T.LongType()),
        T.StructField("phash_ok", T.BooleanType()),
        T.StructField("pixels_ok", T.BooleanType()),
        T.StructField("caption_ok", T.BooleanType()),
        T.StructField("psnr_db", T.DoubleType()),
    ]
)


def image_pipeline(images: DataFrame, zones: DataFrame, px: int = 16, index=None) -> DataFrame:
    """Fused per-image job: decode bytes → verify pixels (allclose for
    raw, PSNR ≥ 40 dB for lossy) → recompute + verify phash → verify
    caption → encode cells/tile → PIP zone assignment.

    One mapInPandas pass, zero shuffles: the scalable shape for 10^12
    rows (scan → narrow transform → partitioned sink).

    The zone index comes from ``assign.zone_dim``: built and broadcast
    by the first call on a cached or local zone table, reused by later
    ones. ``index``, a prebuilt ``assign.build_zone_index(zones)``, is
    used as given instead (broadcast afresh on each call)."""
    dim = zone_dim(zones) if index is None else ZoneDim.of_index(index)
    bc = dim.broadcast(images.sparkSession.sparkContext)
    res_sorted = sorted(DEFAULT_RESOLUTIONS)
    finest = res_sorted[-1]

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = bc.value
        for pdf in batches:
            pid = pdf["pid"].to_numpy(dtype=np.int64)
            n = len(pid)
            expected = _pixels_for(pid, px)
            psnr = np.full(n, 999.0)
            pix_ok = np.zeros(n, dtype=bool)
            fmts = pdf["fmt"].to_numpy()
            blobs = pdf["bytes"].to_numpy()
            phashes = pdf["phash"].to_numpy(dtype=np.int64)

            raw_idx = np.nonzero(fmts == "raw")[0]
            if len(raw_idx):
                # reuse=True: scratch-backed views, consumed before the
                # next decode call (cosmospark.scratch contract) — the
                # zero-allocation per-batch hot path
                dec = codecs.decode_raw_batch(
                    [blobs[i] for i in raw_idx], px, px, reuse=True
                )
                pix_ok[raw_idx] = (dec == expected[raw_idx]).all(axis=(1, 2, 3))
            lossy_idx = np.nonzero(fmts == "lossy")[0]
            if len(lossy_idx):
                dec = codecs.decode_lossy_batch(
                    [blobs[i] for i in lossy_idx], px, px, reuse=True
                )
                p = codecs.psnr_batch(expected[lossy_idx], dec)
                psnr[lossy_idx] = p
                pix_ok[lossy_idx] = p >= 40.0
            ph_ok = codecs.phash64_batch(expected) == phashes
            cap_ok = (
                pdf["caption"].to_numpy()
                == np.char.add(
                    np.char.add("img ", pid.astype(str)),
                    np.char.add(" cat", (pid % 7).astype(str)),
                )
            )
            lon = pdf["lon"].to_numpy(dtype=np.float64)
            lat = pdf["lat"].to_numpy(dtype=np.float64)
            base = cells.cell_encode(lon, lat, finest)
            out = pd.DataFrame(
                {
                    "pid": pid,
                    "zone_id": idx.assign(lon, lat),
                    "cell_r4": base >> (2 * (finest - 4)),
                    "cell_r7": base >> (2 * (finest - 7)),
                    "cell_r9": base,
                    "tile_id": cells.tile_encode(lon, lat, DEFAULT_TILE_Z),
                    "phash_ok": ph_ok,
                    "pixels_ok": pix_ok,
                    "caption_ok": cap_ok,
                    "psnr_db": psnr,
                }
            )
            yield out

    return images.mapInPandas(_run, _OUT_SCHEMA)
