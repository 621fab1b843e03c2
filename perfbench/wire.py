"""The ``wire_io`` workload: the connector's own surface at volume.

Set-up writes a seeded synthetic table as parquet, a row-tag XML file and a
member-framed ``.jsonl.lz4`` file.  One round then runs, in order:

1. ``pipe_out`` FLAT, then ``merge_parts(clean=True)`` to one file;
2. ``pipe_out`` CSV (quoted fields, embedded separators and quotes, a
   multi-character terminator), then ``merge_parts(clean=True)``;
3. ``pipe_in`` of the merged FLAT file, the merged CSV file and the XML
   file, with the default split planning;
4. ``read_jsonl_gz(codec="lz4")`` of the LZ4 file.

Every scan ends in a row count plus an order-insensitive ``xxhash64`` sum,
checked against the values Spark computes from the generator's parquet.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CSV_FORMAT = "CSV(SEPARATOR('|'), QUOTE('\\''), TERMINATOR('~~'))"
XML_ROW = "Dataset/Row"
_COLS = ("id", "name", "qty", "price", "note")
_TYPES = ("bigint", "string", "int", "double", "string")
_NOTE_WORDS = np.array([
    "alpha", "beta|gamma", "it's", "o'clock", "a|b|c", "plain", "x", "mixed",
    "quote'n|pipe", "delta", "epsilon", "long-ish", "tail",
])


def layout():
    from h2h_spark import Integer, Layout, Real, String

    return Layout([
        ("id", Integer(8)),
        ("name", String(12)),
        ("qty", Integer(4)),
        ("price", Real(8)),
        ("note", String(40)),
    ])


def make_table(rows: int, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    pool = np.array(["".join(letters[rng.integers(0, 26, k)])
                     for k in rng.integers(3, 13, 4096)])
    notes = np.array([" ".join(w) for w in
                      _NOTE_WORDS[rng.integers(0, len(_NOTE_WORDS), (4096, 3))]])
    return pa.table({
        "id": pa.array(rng.permutation(rows).astype(np.int64) * 7919 + seed),
        "name": pa.array(pool[rng.integers(0, len(pool), rows)], pa.string()),
        "qty": pa.array(rng.integers(-50_000, 50_000, rows), pa.int32()),
        "price": np.round(rng.uniform(0, 1e6, rows), 4),
        "note": pa.array(notes[rng.integers(0, len(notes), rows)], pa.string()),
    })


def _write_lz4(path: str, table: pa.Table, lines_per_frame: int = 4096) -> None:
    """Member-framed JSONL: one LZ4 frame per ``lines_per_frame`` lines."""
    codec = pa.Codec("lz4")
    cols = [table.column(c).to_pylist() for c in _COLS]
    with open(path, "wb") as f:
        for lo in range(0, table.num_rows, lines_per_frame):
            block = "".join(
                json.dumps(dict(zip(_COLS, vals))) + "\n"
                for vals in zip(*(c[lo:lo + lines_per_frame] for c in cols))
            )
            f.write(codec.compress(block.encode(), asbytes=True))


def digest(df):
    """(rows, order-insensitive xxhash64 sum) of ``df``'s payload columns."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c).cast(t) for c, t in zip(_COLS, _TYPES)])
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(h.cast("decimal(38,0)")).alias("h")).collect()[0]
    return int(row["n"]), int(row["h"])


def _size(path: str) -> int:
    if os.path.isdir(path):
        return sum(os.path.getsize(os.path.join(path, f))
                   for f in os.listdir(path) if not f.startswith(("_", ".")))
    return os.path.getsize(path)


class WireIO:
    """Set-up and one-round runner for ``wire_io``; ``tracer`` gets the
    per-layer timings of each operation."""

    def __init__(self, spark, root: str, seed: int, rows: int):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.rows = rows
        self.layout = layout()
        self.expect: tuple[int, int] | None = None
        self.bytes: dict[str, int] = {}

    def setup(self) -> None:
        from h2h_spark import write_single_file, write_xml

        os.makedirs(self.root, exist_ok=True)
        table = make_table(self.rows, self.seed)
        self.src_path = os.path.join(self.root, "src.parquet")
        pq.write_table(table, self.src_path)
        # one partition per core, so pipe_out writes parts in parallel and
        # merge_parts has parts to concatenate
        nproc = self.spark.sparkContext.defaultParallelism
        self.src = self.spark.read.parquet(self.src_path).repartition(nproc).cache()
        self.expect = digest(self.src)
        self.xml_path = os.path.join(self.root, "rows.xml")
        write_single_file(self.src, self.xml_path,
                          lambda df, path: write_xml(df, path, row_path=XML_ROW))
        self.lz4_path = os.path.join(self.root, "rows.jsonl.lz4")
        _write_lz4(self.lz4_path, table)
        self.bytes = {
            "parquet": _size(self.src_path),
            "xml": _size(self.xml_path),
            "lz4": _size(self.lz4_path),
        }

    def ops(self):
        """The round's operations, in order: (name, op), where ``op(tracer)``
        returns (bytes moved, (rows, hash) of a scan or None)."""
        from h2h_spark import merge_parts, pipe_in, pipe_out, read_jsonl_gz

        lay = self.layout
        flat = os.path.join(self.root, "out.flat")
        csv = os.path.join(self.root, "out.csv")

        def write(fmt: str, target: str):
            def op(tr):
                with tr.span("sink.write", stages=True, idle=True, group=True):
                    pipe_out(self.src, target + "-parts", lay, fmt)
                parts = [f for f in os.listdir(target + "-parts")
                         if not f.startswith(("_", "."))]
                n = _size(target + "-parts")
                tr.count("sink.parts", len(parts))
                tr.count("sink.mb", n / 1e6)
                return n, None
            return op

        def merge(target: str):
            def op(tr):
                with tr.span("merge"):
                    n = merge_parts(target + "-parts", target, clean=True)
                tr.count("merge.mb", n / 1e6)
                return n, None
            return op

        def scan(path: str, make):
            def op(tr):
                with tr.span("sources.plan"):
                    df = make()
                with tr.span("exec.sink", stages=True, idle=True, group=True):
                    got = digest(df)
                n = _size(path)
                tr.count("sources.input_mb", n / 1e6)
                tr.count("sources.splits", tr.first_stage_tasks())
                return n, got
            return op

        def lz4_df():
            from pyspark.sql import functions as F

            raw = read_jsonl_gz(self.spark, self.lz4_path, codec="lz4")
            schema = ", ".join(f"{c} {t}" for c, t in zip(_COLS, _TYPES))
            return raw.select(F.from_json("line", schema).alias("j")).select("j.*")

        return [
            ("write_flat", write("FLAT", flat)),
            ("merge_flat", merge(flat)),
            ("write_csv", write(CSV_FORMAT, csv)),
            ("merge_csv", merge(csv)),
            ("scan_flat", scan(flat, lambda: pipe_in(self.spark, flat, lay, "FLAT"))),
            ("scan_csv", scan(csv, lambda: pipe_in(self.spark, csv, lay, CSV_FORMAT))),
            ("scan_xml", scan(self.xml_path,
                              lambda: pipe_in(self.spark, self.xml_path, lay,
                                              f"XML('{XML_ROW}')"))),
            ("scan_lz4", scan(self.lz4_path, lz4_df)),
        ]


def run_round(wire: WireIO, tracer, expect):
    """Run one round, each operation in a ``wire.<name>`` span; yields
    (operation, seconds, bytes, error or None)."""
    for name, op in wire.ops():
        t0 = time.perf_counter()
        err = None
        nbytes = 0
        try:
            with tracer.span(f"wire.{name}"):
                nbytes, got = op(tracer)
            if got is not None and got != expect:
                err = f"digest {got} != expected {expect}"
        except Exception as e:  # a failed operation is counted, not fatal
            err = f"{type(e).__name__}: {str(e)[:300]}"
        yield name, time.perf_counter() - t0, nbytes, err
