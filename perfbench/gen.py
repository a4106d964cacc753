"""Seeded input generators, numpy and pyarrow only (no Spark).

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical files.  Each returns a small dict that
records what it wrote (rows, bytes, files) so the run can report input
size and compute ``rows_per_s`` and ``write_amp``.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WKB_POINT_BYTES = 21  # byte order + uint32 type + two float64


def _files_info(paths: list[str], rows: int) -> dict:
    return {"rows": int(rows), "files": len(paths),
            "bytes": int(sum(os.path.getsize(p) for p in paths)),
            "paths": list(paths)}


def wkb_points(x: np.ndarray, y: np.ndarray) -> pa.Array:
    """Little-endian WKB Point for every (x, y), as one binary array."""
    n = len(x)
    rec = np.zeros(n, dtype=[("bo", "u1"), ("t", "<u4"),
                             ("x", "<f8"), ("y", "<f8")])
    rec["bo"], rec["t"], rec["x"], rec["y"] = 1, 1, x, y
    offsets = np.arange(n + 1, dtype=np.int32) * WKB_POINT_BYTES
    return pa.Array.from_buffers(
        pa.binary(), n,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(rec.tobytes())])


# --- etl_write ---------------------------------------------------------------

def etl_points(seed: int, rows: int) -> tuple[np.ndarray, np.ndarray]:
    """A seeded mix of uniform world coverage and a few dense clusters, so
    the Hilbert sort sees both sparse and crowded cells."""
    rng = np.random.default_rng([seed, 1])
    n_clustered = rows // 3
    centres = rng.uniform([-150.0, -60.0], [150.0, 60.0], size=(8, 2))
    pick = rng.integers(0, len(centres), n_clustered)
    cx = centres[pick, 0] + rng.normal(0.0, 2.0, n_clustered)
    cy = centres[pick, 1] + rng.normal(0.0, 2.0, n_clustered)
    ux = rng.uniform(-180.0, 180.0, rows - n_clustered)
    uy = rng.uniform(-85.0, 85.0, rows - n_clustered)
    x = np.clip(np.concatenate([cx, ux]), -180.0, 180.0)
    y = np.clip(np.concatenate([cy, uy]), -85.0, 85.0)
    order = rng.permutation(rows)
    return x[order], y[order]


def etl_dataset(seed: int, out_dir: str, rows: int, files: int,
                row_groups_per_file: int) -> dict:
    """A GeoParquet dataset directory of :func:`etl_points` as WKB:
    ``files`` files of ``row_groups_per_file`` row groups each, every file
    with a ``geo`` footer carrying its own bbox.  Ids are unique but
    shuffled, so no input file is already in key order."""
    x, y = etl_points(seed, rows)
    rng = np.random.default_rng([seed, 5])
    ids = rng.permutation(rows).astype(np.int64)
    kinds = np.array(["shop", "park", "school", "road", "house"])
    table = pa.table({
        "id": ids,
        "kind": pa.array(kinds[rng.integers(0, len(kinds), rows)]),
        "value": rng.normal(100.0, 15.0, rows),
        "geometry": wkb_points(x, y),
    })
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    bounds = np.linspace(0, rows, files + 1).astype(int)
    for i in range(files):
        lo, hi = bounds[i], bounds[i + 1]
        part = table.slice(lo, hi - lo)
        geo = {"version": "1.1.0", "primary_column": "geometry",
               "columns": {"geometry": {
                   "encoding": "WKB", "geometry_types": ["Point"],
                   "bbox": [float(x[lo:hi].min()), float(y[lo:hi].min()),
                            float(x[lo:hi].max()), float(y[lo:hi].max())]}}}
        part = part.replace_schema_metadata({b"geo": json.dumps(geo).encode()})
        path = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(part, path,
                       row_group_size=-(-(hi - lo) // row_groups_per_file))
        paths.append(path)
    info = _files_info(paths, rows)
    info["row_groups"] = sum(pq.ParquetFile(p).metadata.num_row_groups
                             for p in paths)
    return info


# --- query_mix -----------------------------------------------------------------

_WORDS = ("a the data spark stream vector window shuffle join sort scan "
          "filter group agg hash key value row column table part line order "
          "customer query batch merge fast slow big small").split()
_LANGS = np.array(["en", "de", "fr", "es", "zh"])


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words documents over a small vocabulary (so BM25 terms hit
    and shingles collide), with a few verbatim and near-verbatim copies so
    MinHash finds real candidate pairs."""
    lengths = rng.integers(8, 96, n)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    for i in rng.choice(n, size=n // 50, replace=False):
        j = int(rng.integers(0, n))
        texts[i] = texts[j] if rng.random() < 0.5 else texts[j] + " tail"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": pa.array(_LANGS[rng.integers(0, len(_LANGS), n)]),
        "source": pa.array([f"src{i % 5}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    """Unit float32 vectors drawn around ten label centres."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    centres = rng.normal(size=(10, dim))
    v = centres[labels] * 0.35 + rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim) \
        .cast(pa.list_(pa.float32()))
    return pa.table({"vec_id": np.arange(n, dtype=np.int64),
                     "embedding": emb, "label": labels})


def query_tables(seed: int, out_dir: str, events: int, customers: int,
                 documents: int, embeddings: int) -> dict:
    """The tables the query_mix registry queries read, in the schema of
    the repository's synthetic test tables: one file and one row group
    each.  Spatial queries derive coordinates from keys (see
    ``testsupport/tables.py``), so the seed moves the geometry through
    ``events.user_id``."""
    rng = np.random.default_rng([seed, 2])
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    steps = np.cumsum(rng.integers(1, 60_000_000, events))
    tables = {
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        "customer": pa.table({
            "c_custkey": np.arange(customers, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(customers)],
            "c_nationkey": rng.integers(0, 25, customers).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, customers), 2),
            "c_mktsegment": pa.array(np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"])[rng.integers(0, 5, customers)])}),
        "events": pa.table({
            "event_id": np.arange(events, dtype=np.int64),
            "ts": pa.array(ts0 + steps.astype("timedelta64[us]"),
                           pa.timestamp("us")),
            "user_id": rng.integers(0, max(events // 60, 1), events)
            .astype(np.int64),
            "event_type": pa.array(np.array(
                ["view", "click", "purchase", "signup", "error"])
                [rng.integers(0, 5, events)]),
            "value": np.round(rng.exponential(50.0, events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, events)]}),
        "documents": _documents(rng, documents),
        "embeddings": _embeddings(rng, embeddings),
    }
    os.makedirs(out_dir, exist_ok=True)
    info = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        info[name] = _files_info([path], table.num_rows)
    return info


# --- stream_ingest -------------------------------------------------------------

STREAM_DIM = 64
STREAM_CLUSTERS = 8


def stream_centroids() -> list[list[float]]:
    """Unit basis vectors e_0..e_7: a unit vector's nearest centroid is
    then its largest of the first eight components."""
    return np.eye(STREAM_CLUSTERS, STREAM_DIM).tolist()


def stream_epochs(seed: int, out_dir: str, epochs: int, new_groups: int,
                  group_size: int, replays: int) -> dict:
    """Epoch files of near-duplicate groups for the semantic-dedup sink.

    A group is ``group_size`` vectors within cosine ~0.99 of each other
    around a centre ``normalize(e_k + r)``, where ``r`` is a unit vector
    orthogonal to every centroid.  Centres of two groups have cosine
    ~0.5, far below the sink's 0.95 threshold, and every member's
    cluster component (~0.7) dwarfs its other centroid components
    (~0.01), so no group straddles a cluster boundary.  Each epoch holds
    ``new_groups`` fresh groups plus ``replays`` fresh-id near-copies of
    groups from earlier epochs.  Ids ascend across epochs, so the kept
    set is known by construction: the lowest id of every group.
    """
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    centres: list[np.ndarray] = []
    survivors: dict[int, tuple[int, bytes]] = {}
    next_id = 0
    paths, rows = [], 0

    def near(centre):
        noise = rng.normal(size=STREAM_DIM)
        v = centre + 0.1 * noise / np.linalg.norm(noise)
        return (v / np.linalg.norm(v)).astype(np.float32)

    for e in range(epochs):
        vecs, ids = [], []
        for _ in range(new_groups):
            r = np.zeros(STREAM_DIM)
            r[STREAM_CLUSTERS:] = rng.normal(size=STREAM_DIM - STREAM_CLUSTERS)
            centre = np.zeros(STREAM_DIM)
            centre[rng.integers(0, STREAM_CLUSTERS)] = 1.0
            centre = centre + r / np.linalg.norm(r)
            centre /= np.linalg.norm(centre)
            for m in range(group_size):
                v = near(centre)
                if m == 0:
                    survivors[next_id] = (e, v.tobytes())
                vecs.append(v)
                ids.append(next_id)
                next_id += 1
            centres.append(centre)
        earlier = len(centres) - new_groups
        for _ in range(replays if earlier > 0 else 0):
            vecs.append(near(centres[int(rng.integers(0, earlier))]))
            ids.append(next_id)
            next_id += 1
        arr = np.stack(vecs)
        emb = pa.FixedSizeListArray.from_arrays(pa.array(arr.ravel()),
                                                STREAM_DIM) \
            .cast(pa.list_(pa.float32()))
        # arrival order within an epoch is shuffled; ids still ascend
        # across epochs, which is what the survivor rule depends on
        perm = rng.permutation(len(ids))
        table = pa.table({"vec_id": np.asarray(ids, dtype=np.int64)[perm],
                          "embedding": emb.take(pa.array(perm))})
        path = os.path.join(out_dir, f"epoch-{e:04d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
        rows += table.num_rows
    info = _files_info(paths, rows)
    info["epoch_rows"] = [pq.ParquetFile(p).metadata.num_rows for p in paths]
    info["epoch_bytes"] = [os.path.getsize(p) for p in paths]
    # id -> (epoch that admits it, embedding bytes as fed to the sink)
    info["survivors"] = survivors
    return info
