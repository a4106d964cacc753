"""The three workloads.  Each one generates its inputs from the seed,
computes what its operations must return, runs one operation through
the library's public entry points, and checks one operation's output.

An operation is one pipeline run (etl_write), one registry query driven
to the noop sink (query_mix), or one micro-batch epoch through the
semantic-dedup foreachBatch body (stream_ingest).
"""

from __future__ import annotations

import contextlib
import itertools
import os

import numpy as np

from perfbench import gen, oracles
from perfbench.harness import dir_bytes


def _sink_span(tracer, layer="exec", name="sink"):
    return tracer.span(layer, name) if tracer else contextlib.nullcontext()


def permutation_rng(seed: int, stream: int = 0):
    return np.random.default_rng([seed, 4, stream])


class Workload:
    """Shared defaults.  A workload also provides ``prime_rounds()`` (the
    untimed round set-up runs), ``rounds(rng)`` (lists of operations for
    the window), ``run_op``, ``check``, ``input_summary``, ``input_rows``
    and ``input_bytes``.  ``sink_layer`` names the layer of the span
    around the call that drives an operation's plan."""

    name = ""
    sink_layer = "exec"

    def __init__(self):
        # per-op counters the workload measures itself, by op index
        self.extra: dict[int, dict] = {}

    def prepare(self) -> None:
        """Compute the oracles (untimed, before set-up)."""

    def bytes_written(self, ops) -> int:
        """Bytes of output files the operations created."""
        return sum(self.extra.get(op["i"], {}).get("written_bytes", 0)
                   for op in ops)

    def kept_ratio(self, ops) -> float:
        return 0.0


class EtlWrite(Workload):
    """The reference's published pipeline: read -> extract(bbox) ->
    add_bbox -> sort_hilbert -> write, on a multi-file, multi-row-group
    GeoParquet dataset of WKB points."""

    name = "etl_write"
    ROWS, FILES, ROW_GROUPS = 16_000, 4, 3
    BBOX = (-150.0, -60.0, 150.0, 60.0)

    def __init__(self, seed: int, work: str):
        super().__init__()
        self.work = work
        self.src = os.path.join(work, "etl_in")
        self.info = gen.etl_dataset(seed, self.src, self.ROWS, self.FILES,
                                    self.ROW_GROUPS)
        self.oracle = None

    def prepare(self) -> None:
        self.oracle = oracles.EtlOracle(self.info["paths"], self.BBOX)

    def prime_rounds(self):
        yield ["pipeline"]

    def rounds(self, rng):
        while True:
            yield ["pipeline"]

    def run_op(self, spark, i: int, what: str, tracer=None):
        from geoparquet_io_spark import read

        out = os.path.join(self.work, "etl_out", f"op{i:04d}")
        gt = read(spark, self.src).extract(bbox=self.BBOX).add_bbox() \
            .sort_hilbert()
        with _sink_span(tracer):
            gt.write(out)
        return out

    def check(self, spark, i: int, what: str, out) -> tuple[bool, str]:
        ok, why, counters = self.oracle.check(out)
        self.extra[i] = {"written_files": counters["files"],
                         "written_row_groups": counters["row_groups"],
                         "written_bytes": dir_bytes(out)}
        return ok, why

    def input_summary(self) -> dict:
        return {k: self.info[k] for k in ("rows", "bytes", "files",
                                          "row_groups")}

    def input_rows(self, what: str) -> int:
        return self.info["rows"]

    def input_bytes(self, what: str) -> int:
        return self.info["bytes"]


# the tables each registry query reads, for rows_per_s and write_amp
QUERY_TABLES = {
    "geo_spatial_join": ("customer", "nation"),
    "geo_knn_join": ("events", "customer"),
    "geo_distance_join": ("events", "customer"),
    "dedup_minhash_pairs": ("documents",),
    "semantic_dedup": ("embeddings",),
    "text_bm25_topk": ("documents",),
    "kmeans_train_model": ("embeddings",),
    "similarity_cosine_topk": ("embeddings",),
    "geo_h3_res9_full": ("events",),
    "geo_reproject_albers": ("events",),
}


class QueryMix(Workload):
    """The registry queries of ``QUERY_TABLES``, each driven to the noop
    sink, in an order the seed permutes (one permutation per pass).  The
    noop sink writes nothing, so ``bytes_written`` is 0 and ``write_amp``
    counts only Spark's shuffle and spill files."""

    name = "query_mix"
    SIZES = dict(events=20_000, customers=5_000, documents=1_000,
                 embeddings=600)

    def __init__(self, seed: int, work: str):
        super().__init__()
        self.seed = seed
        self.dir = os.path.join(work, "tables")
        self.info = gen.query_tables(seed, self.dir, **self.SIZES)
        self.expected = None

    def prepare(self) -> None:
        self.expected = oracles.query_oracles(self.dir, list(QUERY_TABLES))

    def prime_rounds(self):
        return itertools.islice(self.rounds(permutation_rng(self.seed, 1)), 1)

    def rounds(self, rng):
        names = list(QUERY_TABLES)
        while True:
            yield [names[j] for j in rng.permutation(len(names))]

    def run_op(self, spark, i: int, q: str, tracer=None):
        from geoparquet_io_spark.queries import REGISTRY

        df = REGISTRY[q][0](spark, self.dir)
        with _sink_span(tracer):
            df.write.format("noop").mode("overwrite").save()
        return df

    def check(self, spark, i: int, q: str, df) -> tuple[bool, str]:
        # re-executes the op's plan (not its build) outside the window
        got = oracles.canon_rows(df.collect())
        want = self.expected[q]
        if got == want:
            return True, ""
        return False, f"{q}: {len(got)} rows vs oracle {len(want)}"

    def input_summary(self) -> dict:
        return {t: {"rows": i["rows"], "bytes": i["bytes"]}
                for t, i in self.info.items()}

    def input_rows(self, q: str) -> int:
        return sum(self.info[t]["rows"] for t in QUERY_TABLES[q])

    def input_bytes(self, q: str) -> int:
        return sum(self.info[t]["bytes"] for t in QUERY_TABLES[q])


class StreamIngest(Workload):
    """Epochs of 64-d embeddings fed to
    ``streaming.events.semantic_dedup_sink_fn``, the foreachBatch body,
    against a kept-set that grows as a chain of delta directories.  With a
    chain cap of 2, every epoch after the first alternates between a delta
    publish and a compaction.  The priming round feeds epochs 0-2 (empty
    index, first delta, first compaction); each timed round continues the
    same stream with four epochs: delta, compaction, delta, compaction."""

    name = "stream_ingest"
    sink_layer = "streaming"
    PRIME_EPOCHS, ROUND_EPOCHS, MAX_ROUNDS = 3, 4, 6
    NEW_GROUPS, GROUP_SIZE, REPLAYS = 40, 6, 60
    THRESHOLD, CHAIN = 0.95, 2

    def __init__(self, seed: int, work: str):
        super().__init__()
        self.path = os.path.join(work, "sink")
        epochs = self.PRIME_EPOCHS + self.ROUND_EPOCHS * self.MAX_ROUNDS
        self.info = gen.stream_epochs(seed, os.path.join(work, "epochs"),
                                      epochs, self.NEW_GROUPS,
                                      self.GROUP_SIZE, self.REPLAYS)
        self.sink = None
        self._bytes_so_far = 0

    def prime_rounds(self):
        from geoparquet_io_spark.streaming.events import semantic_dedup_sink_fn

        os.makedirs(self.path)
        self.sink = semantic_dedup_sink_fn(
            self.path, gen.stream_centroids(), threshold=self.THRESHOLD,
            compact_chain_length=self.CHAIN)
        yield list(range(self.PRIME_EPOCHS))

    def rounds(self, rng):
        e = self.PRIME_EPOCHS
        for _ in range(self.MAX_ROUNDS):
            yield list(range(e, e + self.ROUND_EPOCHS))
            e += self.ROUND_EPOCHS

    def run_op(self, spark, i: int, e: int, tracer=None):
        df = spark.read.parquet(self.info["paths"][e])
        with _sink_span(tracer, "streaming", "epoch"):
            self.sink(df, e)
        with open(os.path.join(self.path, "_LATEST")) as fh:
            chain = [ln.strip() for ln in fh if ln.strip()]
        # nothing is pruned within a run (the sink keeps unreferenced
        # versions for 10 minutes), so the directory's growth is what
        # this epoch wrote
        total = dir_bytes(self.path)
        self.extra[i] = {"written_bytes": total - self._bytes_so_far,
                         "chain_len": len(chain)}
        self._bytes_so_far = total
        return (e, chain)

    def check(self, spark, i: int, e: int, handle) -> tuple[bool, str]:
        e, chain = handle
        kept = oracles.read_kept_set(self.path, chain)
        return oracles.check_kept_set(kept, self.info["survivors"], e + 1)

    def input_summary(self) -> dict:
        return {k: self.info[k] for k in ("rows", "bytes", "files")}

    def input_rows(self, e: int) -> int:
        return self.info["epoch_rows"][e]

    def input_bytes(self, e: int) -> int:
        return self.info["epoch_bytes"][e]

    def kept_ratio(self, ops) -> float:
        """Survivors / candidates over the stream up to the last op."""
        done = [op for op in ops if op["handle"]]
        if not done:
            return 0.0
        e, chain = done[-1]["handle"]
        fed = sum(self.info["epoch_rows"][:e + 1])
        return len(oracles.read_kept_set(self.path, chain)) / fed


WORKLOADS = {w.name: w for w in (EtlWrite, QueryMix, StreamIngest)}
