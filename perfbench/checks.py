"""Correctness checks on a store written by ``run_insert``.

Each check returns ``(name, ok, detail)``; the caller prints them by name
and counts the failures.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def doc_id(row: dict) -> str:
    """The pipeline's document key: ``repo:path@commit``."""
    return f"{row['repo']}:{row['path']}@{row['commit']}"


def frame_digest(df: DataFrame) -> str:
    """Order-insensitive digest of a frame: row count plus the sum of
    per-row 64-bit hashes over every column (columns in name order)."""
    cols = sorted(df.columns)
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return hashlib.sha256(f"{row.n}:{row.h}".encode()).hexdigest()[:16]


def graph_digest(store) -> str:
    return frame_digest(store.read("nodes")) + frame_digest(store.read("edges"))


def text_digest(text: str) -> str:
    """Order-insensitive digest of a rendered query: its sorted lines,
    each without its leading row number (rows tied on ``ref_count``
    render in any order, and the row number follows that order)."""
    lines = sorted(line.split(",", 1)[-1] for line in text.splitlines())
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def store_checks(store, rows: list) -> list:
    """The ingest invariants on a store after one ``run_insert`` of
    ``rows``:

    - every offered doc has a checkpoint row whose ``content_sha`` is
      ``sha256(content)`` of its generated row (the BASELINE invariant);
    - every edge endpoint is a node;
    - the checkpoint's ``n_chunks`` sum to the rows of ``chunks``; its
      detail also gives the share of docs split into more than one
      chunk, overall and per language.
    """
    want = {
        doc_id(r): hashlib.sha256(r["content"].encode()).hexdigest()
        for r in rows
    }
    ckpt = store.read("checkpoint").select(
        "doc_id", "content_sha", "lang", "n_chunks"
    ).collect()
    got = {r.doc_id: r.content_sha for r in ckpt}
    bad_sha = sum(got.get(d) != sha for d, sha in want.items())
    extra = len(set(got) - set(want))
    out = [(
        "checkpoint_sha",
        bad_sha == 0 and extra == 0,
        f"{len(want)} docs, {bad_sha} missing or wrong sha, {extra} unknown",
    )]

    nodes = store.read("nodes").select("entity_id")
    edges = store.read("edges")
    dangling = (
        edges.select(F.explode(F.array("src", "dst")).alias("entity_id"))
        .distinct()
        .join(nodes, "entity_id", "left_anti")
        .count()
    )
    out.append(("edge_endpoints", dangling == 0, f"{dangling} dangling"))

    n_chunks = sum(r.n_chunks for r in ckpt)
    chunk_rows = store.read("chunks").count()
    multi = {}  # lang -> (docs, docs with more than one chunk)
    for r in ckpt:
        docs, split = multi.get(r.lang, (0, 0))
        multi[r.lang] = (docs + 1, split + (r.n_chunks > 1))
    shares = " ".join(
        f"{lang}={split / docs:.3f}"
        for lang, (docs, split) in sorted(multi.items())
    )
    split_all = sum(split for _, split in multi.values())
    out.append((
        "chunk_count",
        n_chunks == chunk_rows,
        f"checkpoint {n_chunks}, chunks {chunk_rows}; multi_chunk_share="
        f"{split_all / max(len(ckpt), 1):.3f} ({shares})",
    ))
    return out
