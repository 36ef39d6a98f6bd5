"""Seeded inputs for the tier workloads, with their closed-form totals.

The input is a ``sequences`` parquet set (doc_id, tokens, n_tok, source),
the schema ``TierPipeline.run(input_path=...)`` consumes.  The generator
keeps each document's tokens, so the benchmark checks every tier against
numbers it computed without the engine: per-cell point counts and token
sums, per-cell hourly rows, the rows ``gap_fill`` and a 6 h
``collocate`` give, and what hourly retention drops.

A document's cell is ``pmod(xxhash64(doc_id), n_cells)``.  It is computed
with Spark's built-in ``xxhash64`` (one small job), not with the engine,
so a cell-routing bug in the engine shows up as a failed total.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, replace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
# EngineConfig's default axis: token p sits at epoch + p * 60 s, so every
# document starts at the epoch and token p falls in hour p // 60
TOKENS_PER_HOUR = 60
SOURCES = ("web", "books", "code", "wiki")


def _ceil_div(a: int, b: int) -> int:
    return -(-a // b)


@dataclass
class DocSet:
    doc_ids: list = field(default_factory=list)
    tokens: list = field(default_factory=list)  # one int32 array per doc
    cells: dict = field(default_factory=dict)  # doc_id -> cell
    # hours before this one were dropped by retention
    horizon: int = 0

    def __add__(self, other: "DocSet") -> "DocSet":
        return DocSet(self.doc_ids + other.doc_ids, self.tokens + other.tokens,
                      {**self.cells, **other.cells}, self.horizon)

    def expired(self, horizon: int) -> "DocSet":
        """The set as the hourly tier holds it after retention drops every
        hour before ``horizon``."""
        return replace(self, horizon=horizon)

    @property
    def n_tokens(self) -> int:
        return int(sum(len(t) for t in self.tokens))

    def _kept(self, cell: int | None = None):
        """(doc, kept tokens, first hour, end hour) of each doc with data
        at or after the horizon."""
        cut = self.horizon * TOKENS_PER_HOUR
        for d, t in zip(self.doc_ids, self.tokens):
            if (cell is None or self.cells[d] == cell) and len(t) > cut:
                yield d, t[cut:], self.horizon, _ceil_div(len(t), TOKENS_PER_HOUR)

    def cell_totals(self) -> dict:
        """cell -> (points, token sum): what sum(n_points), sum(sum_v)
        over a cell must give in the hourly and daily tiers."""
        out: dict = {}
        for d, t, _, _ in self._kept():
            n, s = out.get(self.cells[d], (0, 0))
            out[self.cells[d]] = (n + len(t), s + int(t.sum(dtype=np.int64)))
        return out

    def hourly_rows(self, cell: int | None = None) -> int:
        return sum(e - b for _, _, b, e in self._kept(cell))

    def dense_rows(self, cell: int) -> int:
        """``gap_fill`` output rows: every doc of the cell at every hour
        from the cell's first tick (the horizon) to its last."""
        spans = [(b, e) for _, _, b, e in self._kept(cell)]
        return len(spans) * (max(e for _, e in spans) - self.horizon)

    def colloc_rows(self, cell: int, step_hours: int = 6) -> int:
        """``collocate`` output rows on a ``step_hours`` axis from the
        epoch: one per slot a doc's hourly observations reach."""
        return sum((e - 1) // step_hours - b // step_hours + 1
                   for _, _, b, e in self._kept(cell))


def cells_of(spark, doc_ids: list, n_cells: int) -> dict:
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(d,) for d in doc_ids], "doc_id string")
    rows = df.select(
        "doc_id", F.pmod(F.xxhash64("doc_id"), F.lit(n_cells)).alias("c")
    ).collect()
    return {r["doc_id"]: int(r["c"]) for r in rows}


def _docs(rng, ids: list, lens: list, cells: dict) -> DocSet:
    return DocSet(
        doc_ids=ids,
        tokens=[rng.integers(0, VOCAB, k, dtype=np.int32) for k in lens],
        cells={d: cells[d] for d in ids},
    )


def uniform(spark, rng, prefix: str, n_docs: int, n_cells: int) -> DocSet:
    """``n_docs`` documents of 64-256 tokens spread over all cells by
    their hash: no cell is hot."""
    ids = [f"{prefix}{i:06d}" for i in range(n_docs)]
    lens = list(rng.integers(64, 257, n_docs))
    return _docs(rng, ids, lens, cells_of(spark, ids, n_cells))


def localized(spark, rng, prefix: str, n_per_cell: int, n_cells: int,
              targets: list) -> DocSet:
    """``n_per_cell`` documents of 64-256 tokens in each cell of
    ``targets``, and none elsewhere: doc_ids are picked among candidates
    by their hash."""
    cands = [f"{prefix}{i:06d}" for i in range(4 * n_per_cell * n_cells)]
    cells = cells_of(spark, cands, n_cells)
    ids = [d for c in targets for d in [d for d in cands if cells[d] == c][:n_per_cell]]
    if len(ids) < n_per_cell * len(targets):
        raise RuntimeError("too few candidate doc_ids hash into the target cells")
    lens = list(rng.integers(64, 257, len(ids)))
    return _docs(rng, ids, lens, cells)


def hot_cell(
    spark, rng, prefix: str, n_docs: int, n_cells: int,
    hot_share: float = 0.3, giant_len: int = 3000,
) -> tuple:
    """``n_docs`` documents of 64-256 tokens, plus giant documents whose
    doc_ids hash into one seeded target cell, sized so that cell holds
    ~``hot_share`` of all tokens.  Returns (DocSet, target cell)."""
    lens = list(rng.integers(64, 257, n_docs))
    ids = [f"{prefix}{i:06d}" for i in range(n_docs)]
    target = int(rng.integers(0, n_cells))
    # the giant docs carry the hot share of the tokens the regular docs
    # outside the target cell hold (~(n_cells-1)/n_cells of them)
    rest = sum(lens) * (n_cells - 1) / n_cells
    n_giant = max(1, int(hot_share * rest / (1 - hot_share)) // giant_len)
    cands = [f"{prefix}hot{i:06d}" for i in range(n_giant * n_cells * 4)]
    cand_cells = cells_of(spark, cands + ids, n_cells)
    picked = [d for d in cands if cand_cells[d] == target][:n_giant]
    if len(picked) < n_giant:
        raise RuntimeError("too few candidate doc_ids hash into the hot cell")
    ids += picked
    lens += list(rng.integers(giant_len - 200, giant_len + 200, n_giant))
    return _docs(rng, ids, lens, cand_cells), target


def write_parquet(ds: DocSet, out_dir: str, n_files: int,
                  name: str = "part") -> list:
    """Write ``ds`` round-robin into ``n_files`` parquet files named
    ``<name>-<k>.parquet``; returns their paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for k in range(n_files):
        idx = range(k, len(ds.doc_ids), n_files)
        toks = [ds.tokens[i] for i in idx]
        offsets = np.zeros(len(toks) + 1, dtype=np.int32)
        np.cumsum([len(t) for t in toks], out=offsets[1:])
        table = pa.table({
            "doc_id": pa.array([ds.doc_ids[i] for i in idx], pa.string()),
            "tokens": pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(np.concatenate(toks))
            ),
            "n_tok": pa.array([len(t) for t in toks], pa.int32()),
            "source": pa.array([SOURCES[i % 4] for i in idx], pa.string()),
        })
        paths.append(os.path.join(out_dir, f"{name}-{k:03d}.parquet"))
        pq.write_table(table, paths[-1])
    return paths
