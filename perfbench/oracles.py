"""Independent oracles and output checks.  None of this runs inside a
timed window, and none of it depends on row order, partition count or
core count: outputs are compared as sets or sorted multisets, and the
ordering checks are per written file."""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pyarrow.parquet as pq

from perfbench.gen import WKB_POINT_BYTES

# --- etl_write -------------------------------------------------------------------


def _point_xy(geometry) -> tuple[np.ndarray, np.ndarray]:
    """x, y of a pyarrow binary array of little-endian WKB Points."""
    arr = geometry.combine_chunks() if hasattr(geometry, "combine_chunks") \
        else geometry
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32,
                            count=len(arr) + 1, offset=arr.offset * 4)
    if not np.all(np.diff(offsets) == WKB_POINT_BYTES):
        raise ValueError("geometry column holds non-Point WKB")
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    rec = data[offsets[0]:offsets[-1]].view(
        [("bo", "u1"), ("t", "<u4"), ("x", "<f8"), ("y", "<f8")])
    if not (np.all(rec["bo"] == 1) and np.all(rec["t"] == 1)):
        raise ValueError("geometry column holds non-Point WKB")
    return rec["x"].copy(), rec["y"].copy()


class EtlOracle:
    """What extract(bbox) -> add_bbox -> sort_hilbert -> write must
    produce, computed with numpy from the generated input files."""

    def __init__(self, input_paths: list[str], bbox):
        ids, xs, ys = [], [], []
        for p in input_paths:
            t = pq.read_table(p, columns=["id", "geometry"])
            x, y = _point_xy(t["geometry"])
            ids.append(t["id"].to_numpy())
            xs.append(x)
            ys.append(y)
        ids, x, y = np.concatenate(ids), np.concatenate(xs), np.concatenate(ys)
        xmin, ymin, xmax, ymax = bbox
        keep = (x >= xmin) & (x <= xmax) & (y >= ymin) & (y <= ymax)
        order = np.argsort(ids[keep])
        self.ids = ids[keep][order]
        self.x, self.y = x[keep][order], y[keep][order]
        # the envelope sort_hilbert scales its grid to: the extracted rows
        self.env = (float(self.x.min()), float(self.y.min()),
                    float(self.x.max()), float(self.y.max()))

    def check(self, out_dir: str) -> tuple[bool, str, dict]:
        """Read a written dataset back with pyarrow and check it.  Returns
        (ok, reason, counters)."""
        from geoparquet_io_spark.functions.hilbert import hilbert_key

        files = sorted(glob.glob(os.path.join(out_dir, "**", "*.parquet"),
                                 recursive=True))
        counters = {"files": len(files), "row_groups": 0,
                    "bytes": sum(os.path.getsize(f) for f in files)}
        if not files:
            return False, "no parquet files written", counters
        got_ids, key_ranges = [], []
        for f in files:
            pf = pq.ParquetFile(f)
            counters["row_groups"] += pf.metadata.num_row_groups
            raw = pf.schema_arrow.metadata or {}
            if b"geo" not in raw:
                return False, f"{f}: no geo footer", counters
            geo = json.loads(raw[b"geo"])
            col = geo.get("columns", {}).get(geo.get("primary_column"), {})
            if geo.get("primary_column") != "geometry" \
                    or col.get("encoding") != "WKB":
                return False, f"{f}: wrong primary column {geo}", counters
            cov = col.get("covering", {}).get("bbox", {})
            want = {k: ["bbox", k] for k in ("xmin", "ymin", "xmax", "ymax")}
            if cov != want:
                return False, f"{f}: covering {cov!r} != {want!r}", counters
            t = pf.read(columns=["id", "geometry", "bbox"])
            if t.num_rows == 0:
                continue
            x, y = _point_xy(t["geometry"])
            b = t["bbox"].combine_chunks()
            for name, v in (("xmin", x), ("xmax", x), ("ymin", y),
                            ("ymax", y)):
                if not np.array_equal(b.field(name).to_numpy(), v):
                    return False, f"{f}: bbox.{name} != point", counters
            ids = t["id"].to_numpy()
            pos = np.searchsorted(self.ids, ids)
            pos = np.clip(pos, 0, len(self.ids) - 1)
            if not (np.array_equal(self.ids[pos], ids)
                    and np.array_equal(self.x[pos], x)
                    and np.array_equal(self.y[pos], y)):
                return False, f"{f}: rows not in the in-bbox input", counters
            keys = hilbert_key(x, y, *self.env)
            if np.any(np.diff(keys) < 0):
                return False, f"{f}: hilbert keys decrease", counters
            got_ids.append(ids)
            key_ranges.append((int(keys[0]), int(keys[-1])))
        got = np.sort(np.concatenate(got_ids)) if got_ids else np.array([])
        if not np.array_equal(got, self.ids):
            return False, (f"id set differs: {len(got)} rows written, "
                           f"{len(self.ids)} expected"), counters
        key_ranges.sort()
        for (_, hi), (lo, _) in zip(key_ranges, key_ranges[1:]):
            if lo <= hi:
                return False, "key ranges of two files overlap", counters
        return True, "", counters


# --- query_mix -------------------------------------------------------------------


def canon(v):
    """Comparable form of one output value.  The registry's queries
    already round float aggregates identically on both engines; this
    only folds -0.0 into 0.0 and unifies container types."""
    if v is None or isinstance(v, (bool, str, int)):
        return v
    if isinstance(v, float):
        return v + 0.0
    if isinstance(v, (list, tuple)):  # arrays and structs (Row)
        return tuple(canon(x) for x in v)
    return str(v)


def canon_rows(rows) -> list:
    """Rows as a sorted multiset: independent of collect() order."""
    return sorted((tuple(canon(v) for v in r) for r in rows), key=repr)


def h3_distinct_cells(tables_dir: str, res: int = 9) -> list[tuple]:
    """Oracle for ``geo_h3_res9_full``: the registry's scalar H3 mirror
    (independent arithmetic from the vectorized kernel Spark runs) over
    every event's key-derived point."""
    from geoparquet_io_spark.functions import h3_fine as hf

    t = pq.read_table(os.path.join(tables_dir, "events.parquet"),
                      columns=["event_id", "user_id"])
    e, u = t["event_id"].to_numpy(), t["user_id"].to_numpy()
    lon = ((u * 37 + e) % 3400) / 10.0 - 170.0
    lat = ((u * 53 + e * 7) % 1600) / 10.0 - 80.0
    pts = set(zip(lat.tolist(), lon.tolist()))
    cells = {hf.latlng_to_cell_scalar(a, b, res) for a, b in pts}
    return [(len(cells), len(e))]


def query_oracles(tables_dir: str, names: list[str]) -> dict[str, list]:
    """Expected rows per query, from the registry's DuckDB SQL mirrors
    (``all_oracles()``) run on the same generated tables."""
    import duckdb

    from geoparquet_io_spark.queries import all_oracles

    sql = all_oracles()
    con = duckdb.connect()
    try:
        for f in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
            name = os.path.basename(f)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{f}')")
        out = {}
        for q in names:
            if q == "geo_h3_res9_full":
                rows = h3_distinct_cells(tables_dir)
            else:
                rows = con.execute(sql[q]).fetchall()
            out[q] = canon_rows(rows)
        return out
    finally:
        con.close()


# --- stream_ingest -----------------------------------------------------------------


def read_kept_set(sink_dir: str, dirs: list[str]) -> dict[int, bytes]:
    """The kept-set a pointer listing references, read with pyarrow."""
    kept: dict[int, bytes] = {}
    for d in dirs:
        for f in glob.glob(os.path.join(sink_dir, d, "**", "*.parquet"),
                           recursive=True):
            t = pq.read_table(f, columns=["vec_id", "embedding"])
            ids = t["vec_id"].to_pylist()
            emb = t["embedding"].combine_chunks()
            vals = emb.flatten().to_numpy(zero_copy_only=False)
            offs = emb.offsets.to_numpy()
            for i, vid in enumerate(ids):
                if vid in kept:
                    raise ValueError(f"vec_id {vid} published twice")
                kept[vid] = np.asarray(vals[offs[i]:offs[i + 1]],
                                       dtype=np.float32).tobytes()
    return kept


def check_kept_set(kept: dict[int, bytes], survivors: dict, epochs_done: int
                   ) -> tuple[bool, str]:
    want = {i: v for i, (e, v) in survivors.items() if e < epochs_done}
    if set(kept) != set(want):
        missing = sorted(set(want) - set(kept))[:5]
        extra = sorted(set(kept) - set(want))[:5]
        return False, f"kept-set differs: missing {missing} extra {extra}"
    bad = [i for i in want if kept[i] != want[i]]
    if bad:
        return False, f"embeddings changed for ids {bad[:5]}"
    return True, ""
