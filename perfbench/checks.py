"""Output checks, computed without the code paths being measured.

* Stream outputs are compared three ways: the ``transactions`` table with a
  DuckDB recomputation from the raw block JSON; every table, line for line,
  with one batch ``run_all_tasks`` over the same corpus (stream == batch);
  and the ``blocks`` and ``errors`` row counts with the counts the generator
  knows.
* Media pair tables are compared with pairs recomputed in NumPy from the
  generated ground-truth pixel and sample arrays: the 60-bit gradient hash
  of each item, then brute-force all-pairs Hamming distance.

``compare`` returns a list of problems; an empty list means the output is
correct.
"""

from __future__ import annotations

import csv
import glob
import os
from dataclasses import dataclass

import numpy as np

TABLES = ("transactions", "transfers", "blocks", "errors")

# the transactions columns the DuckDB recomputation covers
_TX_SQL = """
WITH b AS (
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS path,
           result.blockTime AS time, result.blockhash AS blockhash,
           unnest(result.transactions) AS t
    FROM read_json('{glob}', filename = true, ignore_errors = true)
    WHERE result IS NOT NULL AND result.transactions IS NOT NULL
)
SELECT path,
       t.transaction.signatures[1] AS signature,
       CAST(time AS BIGINT) AS time,
       CAST(t.meta.fee AS BIGINT) AS fee,
       t.meta.err IS NULL AS isSuccessful,
       CAST(len(t.transaction.message.instructions)
            + coalesce(list_sum([len(x.instructions) FOR x IN t.meta.innerInstructions]), 0) AS BIGINT)
         AS numInstructions,
       CAST(len(t.transaction.message.accountKeys) AS BIGINT) AS numAccounts,
       CAST(coalesce(list_sum([least(t.meta.postBalances[i] - t.meta.preBalances[i], 0)
            FOR i IN generate_series(1, len(t.meta.preBalances))]), 0) AS BIGINT) AS lamportsOut,
       CAST(coalesce(list_sum([greatest(t.meta.postBalances[i] - t.meta.preBalances[i], 0)
            FOR i IN generate_series(1, len(t.meta.preBalances))]), 0) AS BIGINT) AS lamportsIn,
       blockhash
FROM b
"""
_TX_COLS = ("path", "signature", "time", "fee", "isSuccessful", "numInstructions",
            "numAccounts", "lamportsOut", "lamportsIn", "blockhash")
_TX_INT = {"time", "fee", "numInstructions", "numAccounts", "lamportsOut", "lamportsIn"}


def _csv_rows(lines: list, header: list) -> list:
    # Spark's CSV writer escapes quotes with a backslash
    return [dict(zip(header, r)) for r in csv.reader(lines, escapechar="\\", doublequote=False)]


def _tx_key(row: dict) -> tuple:
    out = []
    for c in _TX_COLS:
        v = row[c]
        if c in _TX_INT:
            v = int(v)
        elif c == "isSuccessful":
            v = v in (True, "true")
        out.append(v)
    return tuple(out)


def _data_lines(pattern: str) -> list:
    lines = []
    for path in sorted(glob.glob(pattern)):
        with open(path) as f:
            lines.extend(line for line in f.read().split("\n") if line)
    return lines


@dataclass
class StreamReference:
    headers: dict  # table -> column names
    lines: dict  # table -> sorted CSV lines of the batch run
    transactions: list  # sorted DuckDB rows
    counts: dict  # table -> row count the generator implies

    @classmethod
    def build(cls, spark, corpus, out_dir: str) -> "StreamReference":
        import duckdb

        from solana_etl_spark.plans.tasks import run_all_tasks
        from solana_etl_spark.sources import read_blocks

        headers, lines = {}, {}
        for name, df in run_all_tasks(read_blocks(spark, corpus.glob)).items():
            path = os.path.join(out_dir, name)
            df.write.mode("overwrite").option("header", False).csv(path)
            headers[name] = df.columns
            lines[name] = sorted(_data_lines(os.path.join(path, "part-*")))
        con = duckdb.connect()
        try:
            rows = con.execute(_TX_SQL.format(glob=corpus.glob)).fetchall()
        finally:
            con.close()
        return cls(
            headers=headers,
            lines=lines,
            transactions=sorted(rows),
            counts={"transactions": corpus.n_transactions, "blocks": corpus.n_blocks, "errors": corpus.n_probes},
        )

    def compare(self, out_dir: str) -> list:
        problems = []
        for name in TABLES:
            table = os.path.join(out_dir, name)
            with open(os.path.join(table, "_header.csv")) as f:
                header = f.read().strip().split(",")
            if header != self.headers[name]:
                problems.append(f"{name}: header {header}")
                continue
            lines = sorted(_data_lines(os.path.join(table, "batch-*", "part-*")))
            if lines != self.lines[name]:
                problems.append(f"{name}: {len(lines)} rows differ from the batch run's {len(self.lines[name])}")
            want = self.counts.get(name)
            if want is not None and len(lines) != want:
                problems.append(f"{name}: {len(lines)} rows, generator wrote {want}")
            if name == "transactions":
                got = sorted(_tx_key(r) for r in _csv_rows(lines, header))
                if got != self.transactions:
                    problems.append("transactions: values differ from the DuckDB recomputation")
        return problems


def dhash(pixels: np.ndarray, rows: int, cols: int) -> int:
    """Gradient hash of a gray image: mean brightness of a rows x cols grid
    of cells (compared as cross-multiplied integer sums), one bit per
    horizontally adjacent cell pair, set when the right cell is brighter."""
    h, w = pixels.shape
    ys, xs = np.mgrid[0:h, 0:w]
    cell = ((ys * rows) // h) * cols + (xs * cols) // w
    s = np.zeros(rows * cols, dtype=np.int64)
    np.add.at(s, cell.ravel(), pixels.ravel().astype(np.int64))
    n = np.bincount(cell.ravel(), minlength=rows * cols).astype(np.int64)
    s, n = s.reshape(rows, cols), n.reshape(rows, cols)
    bits = (s[:, 1:] * n[:, :-1]) > (s[:, :-1] * n[:, 1:])
    return sum(1 << i for i, b in enumerate(bits.ravel()) if b)


def energy_hash(samples: np.ndarray, frames: int) -> int:
    """Gradient hash of a clip: sample i falls in frame i * frames // n; bit
    f is set when frame f+1's mean energy exceeds frame f's (integer
    cross-multiplication, empty frames count as zero)."""
    x = samples.astype(np.int64)
    n = x.size
    if n == 0:
        return 0
    f = np.arange(n, dtype=np.int64) * frames // n
    e = np.zeros(frames, dtype=np.int64)
    np.add.at(e, f, x * x)
    c = np.bincount(f, minlength=frames).astype(np.int64)
    e, c = e.tolist(), c.tolist()
    return sum(1 << i for i in range(frames - 1) if e[i + 1] * c[i] > e[i] * c[i + 1])


_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)


def near_pairs(ids, hashes, max_hamming: int) -> set:
    """All (a, b, distance) with a < b and Hamming distance <= max_hamming."""
    order = np.argsort(np.asarray(ids))
    ids = np.asarray(ids, dtype=np.int64)[order]
    hs = np.asarray(hashes, dtype=np.uint64)[order]
    out = set()
    for i in range(len(ids) - 1):
        x = (hs[i + 1:] ^ hs[i]).view(np.uint8).reshape(-1, 8)
        d = _POP8[x].sum(axis=1)
        for j in np.nonzero(d <= max_hamming)[0]:
            out.add((int(ids[i]), int(ids[i + 1 + j]), int(d[j])))
    return out


@dataclass
class MediaReference:
    pairs: dict  # table -> set of (a, b, hamming)

    @classmethod
    def build(cls, images: dict, clips: dict) -> "MediaReference":
        from solana_etl_spark.operators.audio import AFP_FRAMES, AFP_MAX_HAMMING
        from solana_etl_spark.operators.multimodal import DHASH_GRID_COLS, DHASH_GRID_ROWS

        img = [dhash(np.asarray(px), DHASH_GRID_ROWS, DHASH_GRID_COLS) for px in images["pixels"]]
        aud = [energy_hash(np.asarray(s), AFP_FRAMES) for s in clips["samples"]]
        return cls(pairs={
            "images": near_pairs(images["media_id"], img, 3),
            "audio": near_pairs(clips["media_id"], aud, AFP_MAX_HAMMING),
        })

    def compare(self, out_dir: str) -> list:
        import pyarrow.parquet as pq

        problems = []
        for name, want in self.pairs.items():
            t = pq.read_table(os.path.join(out_dir, name)).to_pylist()
            got = {tuple(int(v) for v in r.values()) for r in t}
            if len(t) != len(got) or got != want:
                problems.append(f"{name}: {len(t)} pairs, {len(want)} expected, {len(got ^ want)} differ")
        return problems
