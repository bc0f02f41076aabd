"""Seeded input generator for the benchmark's storage round trips.

Writes the reads-like table of `disq_roundtrip` as ONE parquet file
holding ONE row group, the layout of the fixture tables under
perfbench/data. The same (seed, rows) always gives byte-identical files.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FLAGS = [0, 16, 83, 99, 147, 163, 1024, 1040]


def _write(path, cols):
    table = pa.table(cols)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n)]


def reads_table(out, seed, n):
    """A reads-like table (contig, pos, end, flag, mapq, name, seq, qual):
    the shape of the disq test reads. One read in a hundred is unplaced
    (null contig and pos), as unmapped reads are.
    """
    rng = np.random.default_rng([seed, 2])
    length = 100
    contig = _pick(rng, [f"chr{i}" for i in range(1, 23)] + ["chrX"], n)
    pos = rng.integers(1, 1_000_000, n)
    unplaced = rng.random(n) < 0.01
    bases = np.frombuffer(b"ACGT", np.uint8)[rng.integers(0, 4, (n, length))]
    quals = rng.integers(33, 75, (n, length)).astype(np.uint8)
    _write(f"{out}/reads.parquet", {
        "contig": pa.array(np.where(unplaced, None, contig), pa.string()),
        "pos": pa.array(pos, pa.int64(), mask=unplaced),
        "end": pa.array(pos + length - 1, pa.int64(), mask=unplaced),
        "flag": pa.array(np.where(unplaced, 4, _pick(rng, FLAGS, n)), pa.int32()),
        "mapq": pa.array(rng.integers(0, 61, n), pa.int32()),
        "name": [f"read{seed % 1000:03d}.{i:08d}" for i in range(n)],
        "seq": [r.tobytes().decode() for r in bases],
        "qual": [r.tobytes().decode() for r in quals]})
