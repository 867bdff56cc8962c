#!/usr/bin/env python3
"""End-to-end benchmark of kgforge's ingest (``pipeline.run_insert``).

Usage, from any directory::

    python3 perfbench/run.py --workload ingest_full --seed 1 --seconds 10 --trace 0

Each run is one process: it starts a session with
``kgforge.session.build_session`` at ``local[<cpus>]`` and no extra conf,
generates its corpus from ``--seed`` (``gen.py``), and times ONE
``run_insert`` of it onto a fresh store - the first ingest of the
process, as a batch ingest job runs it, so JVM JIT, codegen and Python
worker start-up are part of it.  The workloads differ in corpus size:

- ``ingest_full``: 600 files (~3.4 MB), where per-file work (chunking,
  extraction, merge volume, bytes staged) is a visible share;
- ``ingest_small``: 100 files, where the per-run fixed cost (jobs,
  stages, tasks, one write per bucket per table) is most of it.

Operations repeat until ``--seconds`` have passed (the first always
runs); with ``BENCHMARK.json``'s one second, that is one operation
while an ingest takes longer than a second.

Every operation's output is checked (``checks.py``).  With ``--trace 1``
the run then times one more untraced operation (the warm reference),
repeats the operation serially through the public calls ``run_insert``
makes with each call inside a span (``tracing.py``), runs one
``LightRAG.query_text`` untraced and once traced on the result, and
prints per-layer metrics instead of end-to-end ones.  The traced run of
``ingest_small`` then applies two chained deltas to the traced store (see
``Bench.delta_chain``).

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the lines before it name every metric with
its unit and sample count, the input statistics, each check and the
output digests.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up time counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = {
    "ingest_full": gen.CorpusSpec(n_files=600),
    "ingest_small": gen.CorpusSpec(n_files=100),
}
# Workloads whose traced run ends with the chained deltas; on the large
# corpus they would take the run past three minutes.
DELTA_CHAIN = {"ingest_small"}
INPUT_PARTS = 8
TABLE_KEYS = {
    "chunks": ["chunk_id"],
    "edges": ["src", "dst"],
    "nodes": ["entity_id"],
    "rejects": ["doc_id"],
    "checkpoint": ["doc_id"],
    "embeddings": ["id", "kind"],
}
MODULES = (
    "checkpoint", "chunking", "extraction", "canonicalize", "merge",
    "embedding", "store", "query",
)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


# ---------------------------------------------------------------------------
# process-tree RSS and store bytes
# ---------------------------------------------------------------------------


def descendants(pid: int) -> list:
    """``(pid, state)`` of every process below ``pid`` (/proc)."""
    children: dict = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(") ", 1)[1].split()
        except (OSError, IndexError):
            continue
        children.setdefault(int(fields[1]), []).append((int(p), fields[0]))
    out, stack = [], [pid]
    while stack:
        for child in children.get(stack.pop(), []):
            out.append(child)
            stack.append(child[0])
    return out


def tree_rss_kib(pid: int) -> int:
    """VmRSS summed over ``pid`` and all its descendants."""
    total = 0
    for q in [pid] + [c for c, _ in descendants(pid)]:
        try:
            with open(f"/proc/{q}/status") as fh:
                total += next(
                    (int(line.split()[1]) for line in fh
                     if line.startswith("VmRSS:")), 0
                )
        except OSError:
            pass
    return total


class RssSampler:
    """Samples this process tree's RSS every ``period`` seconds while
    inside :meth:`measuring`; ``peak_mb`` is the largest sample."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self._peak_kib = 0
        self._lock = threading.Lock()
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        rss = tree_rss_kib(os.getpid())
        with self._lock:
            self._peak_kib = max(self._peak_kib, rss)

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._active.wait(0.2):
                self._sample()
                self._stop.wait(self.period)

    @contextmanager
    def measuring(self):
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()
            self._sample()

    @property
    def peak_mb(self) -> float:
        with self._lock:
            return self._peak_kib / 1024.0

    def close(self) -> None:
        self._stop.set()
        self._active.set()
        self._thread.join(timeout=5)


def tree_size(root: str) -> tuple:
    """(files, bytes) under ``root``."""
    sizes = [
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root) for f in files
    ]
    return len(sizes), sum(sizes)


# ---------------------------------------------------------------------------
# the benchmark
# ---------------------------------------------------------------------------


class Bench:
    def __init__(self, args, work: str, spark, jvm_s: float):
        from kgforge.pipeline import PipelineConfig

        self.args = args
        self.work = work
        self.spark = spark
        self.jvm_s = jvm_s
        self.cfg = PipelineConfig()
        self.rss = RssSampler()
        self.checks: list = []  # (name, ok, detail)
        self.attempted = 0
        self.failed = 0
        # metrics printed by name but left out of the result line
        self.printed: dict = {}
        self.probes: list = []  # (name, ok): known defects under watch
        self._stores = 0

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))
        print(f"check {name}: {'ok' if ok else 'FAIL'} {detail}", flush=True)

    def store(self, root: str):
        from kgforge.store import ParquetTableStore

        return ParquetTableStore(self.spark, root)

    def fresh_store_dir(self) -> str:
        self._stores += 1
        return os.path.join(self.work, f"store{self._stores}")

    def generate(self):
        """Generate the seed's corpus; return (corpus, input dir,
        seconds)."""
        t0 = time.perf_counter()
        corpus = gen.Corpus(WORKLOADS[self.args.workload], self.args.seed)
        path = os.path.join(self.work, "input")
        gen.write_parquet(corpus.rows, path, INPUT_PARTS)
        gen_s = time.perf_counter() - t0
        print(f"setup jvm_s={self.jvm_s:.4f} gen_s={gen_s:.4f}", flush=True)
        return corpus, path, gen_s

    def ingest(self, corpus, path: str):
        """One ``run_insert`` of the corpus at ``path`` onto a fresh
        store, then the store checks.  Returns (seconds, bytes written,
        graph digest), or None when it raised."""
        from kgforge.pipeline import run_insert

        root = self.fresh_store_dir()
        repos = self.spark.read.parquet(path)
        store = self.store(root)
        self.attempted += 1
        try:
            with self.rss.measuring():
                t0 = time.perf_counter()
                m = run_insert(self.spark, repos, store, self.cfg)
                dt = time.perf_counter() - t0
        except Exception:
            self.failed += 1
            traceback.print_exc()
            self.check("run_insert", False, "raised")
            return None
        _, nbytes = tree_size(root)
        print(f"op run_insert {dt:.3f} s docs_processed="
              f"{m['docs_processed']} docs_skipped={m['docs_skipped']} "
              f"bytes_written={nbytes}", flush=True)
        self.check_counts("docs_counts", m, corpus)
        for name, ok, detail in checks.store_checks(store, corpus.rows):
            self.check(name, ok, detail)
        digest = checks.graph_digest(store)
        print(f"digest graph {digest}", flush=True)
        return dt, nbytes, digest

    def check_digests(self, digests: list) -> None:
        """Every operation of the run wrote the same graph (a check only
        when there are two or more)."""
        if len(digests) > 1:
            self.check("digest_stable", len(set(digests)) == 1,
                       f"{len(digests)} ops: {sorted(set(digests))}")

    def check_counts(self, name: str, m: dict, corpus) -> None:
        want = {"docs_processed": len(corpus.rows), "docs_skipped": 0}
        got = {k: m[k] for k in want}
        self.check(name, got == want, f"got {got}, want {want}")

    def run(self) -> dict:
        corpus, path, gen_s = self.generate()
        print(f"input {self.args.workload}: {json.dumps(gen.stats(corpus.rows))}",
              flush=True)
        content = gen.content_bytes(corpus.rows)
        ops = []
        t_loop = time.perf_counter()
        while True:
            op = self.ingest(corpus, path)
            if op is None:
                break
            ops.append(op)
            if time.perf_counter() - t_loop >= self.args.seconds:
                break
        if not ops:
            raise RuntimeError("no operation completed")
        if self.args.trace:
            return self.run_trace(corpus, path, ops)
        self.check_digests([d for _, _, d in ops])
        op_s = [dt for dt, _, _ in ops]
        self.printed["peak_rss_mb"] = (self.rss.peak_mb, "MB", len(ops))
        return {
            "setup_s": (self.jvm_s + gen_s, "s", 1),
            "files_per_s": (len(corpus.rows) / statistics.median(op_s),
                            "files/s", len(op_s)),
            "write_amp": (statistics.median(b / content for _, b, _ in ops),
                          "ratio", len(ops)),
        }

    # -- traced run ----------------------------------------------------

    def run_trace(self, corpus, path: str, ops: list) -> dict:
        import tracing

        warm = self.ingest(corpus, path)
        if warm is None:
            raise RuntimeError("warm reference operation failed")
        digests = [d for _, _, d in ops + [warm]]
        self.check_digests(digests)
        untraced_digest = digests[0]
        reference_s = warm[0]

        tr = tracing.Tracer(self.spark)
        root = self.fresh_store_dir()
        store = self.store(root)
        self.attempted += 1
        layer = traced_insert(tr, self.spark, self.spark.read.parquet(path),
                              store, self.cfg, "op1")
        layer["store.files_written"], layer["store.bytes_written"] = (
            tree_size(root)
        )
        self.check_counts("trace_docs_counts", layer.pop("_metrics"), corpus)
        traced_digest = checks.graph_digest(store)
        self.check("trace_digest", traced_digest == untraced_digest,
                   f"traced {traced_digest}, untraced {untraced_digest}")

        # one query on the traced store: untraced, then traced
        from kgforge.rag import LightRAG

        kw = query_keywords(corpus, self.args.seed)
        self.attempted += 2
        t0 = time.perf_counter()
        text = LightRAG(self.spark, root).query_text(
            [{"role": "user", "message": kw}]
        )
        q_untraced = time.perf_counter() - t0
        t0 = time.perf_counter()
        traced_text, qlayer = traced_query(tr, self.spark, root, kw, "q1")
        q_traced = time.perf_counter() - t0
        layer.update(qlayer)
        d_untraced = checks.text_digest(text)
        d_traced = checks.text_digest(traced_text)
        self.check("query_digest", d_untraced == d_traced,
                   f"{kw!r}: untraced {d_untraced}, traced {d_traced}")
        print(f"op query_text {q_untraced:.3f} s (traced {q_traced:.3f} s)",
              flush=True)
        tr.collect_engine()
        self.check("engine_stages", not tr.missing_stages,
                   f"stages evicted from the status store: "
                   f"{tr.missing_stages}")
        if self.args.workload in DELTA_CHAIN:
            self.delta_chain(corpus, root)

        totals = tr.module_totals()
        for mod in MODULES:
            t = totals.get(mod, {})
            for k in tracing.ENGINE_COUNTERS:
                layer[f"{mod}.{k}"] = t.get(k, 0.0)
        layer["query.jobs"] = totals.get("query", {}).get("jobs", 0)
        op_span = tr.spans[0]
        layer["trace.op_s"] = op_span.duration
        layer["trace.unattributed_s"] = tr.self_time(op_span)
        layer["trace.overhead_s"] = op_span.duration - reference_s
        attributed = op_span.duration - layer["trace.unattributed_s"]
        print(f"trace op {op_span.duration:.3f} s, layer self times "
              f"{attributed:.3f} s ({attributed / op_span.duration:.1%}), "
              f"untraced warm reference {reference_s:.3f} s, overhead "
              f"{layer['trace.overhead_s']:+.3f} s", flush=True)
        for rec in tr.records():
            print("span " + json.dumps(rec), flush=True)
        return {k: (v, per_layer_unit(k), 1) for k, v in layer.items()}


    def delta_chain(self, corpus, root: str) -> None:
        """Re-ingest onto the traced store: first the corpus with ~5%
        of its bytes edited and ~1% new files (checked: only those are
        processed), then a second, different delta on top.  The second
        fails at this revision (the first delta's merge widens the
        ``edges.source_ids`` schema, which the store's evolution check
        rejects); it is reported as a probe and counted in the printed
        error rate, not in the result line."""
        from kgforge.pipeline import run_insert

        rows = corpus.rows
        for k in (1, 2):
            rows, n_edit, n_new = corpus.delta(rows)
            path = os.path.join(self.work, f"delta{k}")
            gen.write_parquet(rows, path, INPUT_PARTS)
            if k == 1:
                self.attempted += 1
            t0 = time.perf_counter()
            try:
                m = run_insert(self.spark, self.spark.read.parquet(path),
                               self.store(root), self.cfg)
            except Exception as exc:
                detail = f"{type(exc).__name__}: {exc}".splitlines()[0]
                if k == 1:
                    self.failed += 1
                    self.check("delta_run_insert", False, detail)
                else:
                    self.probe("chained_delta", False, detail)
                return
            want = {"docs_processed": n_edit + n_new,
                    "docs_skipped": len(rows) - n_edit - n_new}
            got = {key: m[key] for key in want}
            detail = (f"{time.perf_counter() - t0:.3f} s, got {got}, "
                      f"want {want}")
            if k == 1:
                self.check("delta_docs_counts", got == want, detail)
            else:
                self.probe("chained_delta", got == want, detail)

    def probe(self, name: str, ok: bool, detail: str) -> None:
        self.probes.append((name, ok))
        print(f"probe {name}: {'ok' if ok else 'FAIL'} {detail}", flush=True)


def query_keywords(corpus, seed: int) -> str:
    """A hot identifier, a rare one and a miss, drawn from the seed."""
    rng = random.Random(seed * 7919 + 1)
    words = corpus.words.words
    hot = words[rng.randrange(5)]
    rare = words[len(words) // 2 + rng.randrange(len(words) // 2)]
    miss = "zq" + "".join(rng.choice("xyzq") for _ in range(6))
    return f"{hot} {rare} {miss}"


def per_layer_unit(name: str) -> str:
    if name.endswith(("_s", ".s")) or ".stage_s." in name:
        return "s"
    if name.endswith(("bytes", "bytes_written")):
        return "bytes"
    return "count"


# ---------------------------------------------------------------------------
# traced replicas of the public call sequence
# ---------------------------------------------------------------------------


def traced_insert(tr, spark, repos, store, cfg, op: str) -> dict:
    """``run_insert``'s calls, serially, each materialized inside its
    span: sha_gate, extract_exploded, parse_extraction, mentions_of,
    build_graph, embedding_rows, build_checkpoint_rows, stage_upsert per
    table, commit.  Returns the layer counts and self times."""
    from pyspark.sql import functions as F

    from kgforge import checkpoint as ckpt
    from kgforge import pipeline as P
    from kgforge.chunking import doc_id_col

    out: dict = {}
    cached = []

    def keep(df):
        df = df.persist()
        cached.append(df)
        return df

    with tr.span("run_insert", "pipeline", op):
        with tr.span("sha_gate", "checkpoint", op) as s_gate:
            ids = repos.withColumn("doc_id", doc_id_col()).withColumn(
                "content_sha", F.sha2(F.col("content"), 256)
            )
            todo = keep(ckpt.sha_gate(ids, store.read("checkpoint")))
            n_todo = todo.count()
            n_total = ids.count()
        with tr.span("extract_exploded", "chunking", op) as s_chunk:
            raw, _ = P.extract_exploded(todo.drop("doc_id", "content_sha"),
                                        cfg)
            raw = keep(raw)
            out["chunking.chunks"] = raw.count()
        with tr.span("parse_extraction", "extraction", op) as s_ext:
            exploded = keep(P.parse_extraction(raw))
            exploded.count()
        with tr.span("mentions_of", "canonicalize", op) as s_can:
            ents, rels = P.mentions_of(exploded, cfg)
            ents, rels = keep(ents), keep(rels)
            out["canonicalize.entity_mentions"] = ents.count()
            out["canonicalize.rel_mentions"] = rels.count()
        with tr.span("build_graph", "merge", op) as s_merge:
            existing_nodes = store.read("nodes")
            existing_edges = store.read("edges")
            known = None
            pulled = 0
            if existing_nodes is not None:
                known = existing_nodes.select("entity_id")
                touched = ents.select(
                    F.col("entity_name").alias("entity_id")
                ).distinct()
                existing_nodes = keep(
                    existing_nodes.join(touched, "entity_id", "left_semi")
                )
                pulled += existing_nodes.count()
            if existing_edges is not None:
                pairs = rels.select("src", "dst").distinct()
                existing_edges = keep(
                    existing_edges.join(pairs, ["src", "dst"], "left_semi")
                )
                pulled += existing_edges.count()
            nodes, edges = P.build_graph(
                ents, rels, existing_nodes=existing_nodes,
                existing_edges=existing_edges, config=cfg,
                known_node_ids=known, persist=True,
            )
            nodes, edges = keep(nodes), keep(edges)
            out["merge.nodes"] = nodes.count()
            out["merge.edges"] = edges.count()
            out["merge.existing_rows_pulled"] = pulled
        with tr.span("embedding_rows", "embedding", op) as s_emb:
            emb = keep(P.embedding_rows(nodes, edges))
            out["embedding.rows"] = emb.count()
        with tr.span("build_checkpoint_rows", "checkpoint", op) as s_rows:
            docs = todo.select("doc_id", "repo", "lang", "content_sha")
            ckpt_rows = keep(ckpt.build_checkpoint_rows(
                docs, ckpt.fused_metric_counts(exploded), now=cfg.now
            ))
            ckpt_rows.count()
        chunks = P.chunks_of(exploded)
        go_docs = todo.filter(F.col("lang") == "go").select(
            "doc_id", "repo", "lang", "content_sha", "path", "commit"
        )
        rejected = go_docs.join(
            chunks.select("doc_id").distinct(), "doc_id", "left_anti"
        ).withColumn("status", F.lit("go-parse-error"))
        frames = {
            "chunks": chunks, "edges": edges, "nodes": nodes,
            "rejects": rejected, "checkpoint": ckpt_rows, "embeddings": emb,
        }
        staged = []
        for table, df in frames.items():
            with tr.span(f"stage_upsert.{table}", "store", op) as sp:
                w = store.stage_upsert(table, df, TABLE_KEYS[table])
            staged.append(w)
            out[f"store.stage_s.{table}"] = tr.self_time(sp)
            out[f"store.buckets_touched.{table}"] = w.buckets_touched
        with tr.span("commit", "store", op) as s_commit:
            store.commit(staged)
    for df in cached:
        df.unpersist()

    out["checkpoint.gate_s"] = tr.self_time(s_gate)
    out["checkpoint.rows_s"] = tr.self_time(s_rows)
    out["chunking.s"] = tr.self_time(s_chunk)
    out["extraction.s"] = tr.self_time(s_ext)
    out["canonicalize.s"] = tr.self_time(s_can)
    out["merge.s"] = tr.self_time(s_merge)
    out["embedding.s"] = tr.self_time(s_emb)
    out["store.commit_s"] = tr.self_time(s_commit)
    out["_metrics"] = {"docs_processed": n_todo,
                       "docs_skipped": n_total - n_todo}
    return out


def traced_query(tr, spark, root: str, keywords: str, op: str):
    """``LightRAG.query_text``'s calls: store reads, local_context,
    global_context, render_query_result - each context materialized
    (cached) inside its span so rendering only reads it back."""
    from kgforge import query as q
    from kgforge.store import ParquetTableStore

    out: dict = {}
    cached = []

    def keep(frames):
        kept = []
        for df in frames:
            df = df.persist()
            df.count()
            cached.append(df)
            kept.append(df)
        return kept

    with tr.span("query_text", "pipeline", op):
        with tr.span("store.read", "store", op) as s_read:
            store = ParquetTableStore(spark, root)
            tables = [store.read(t)
                      for t in ("nodes", "edges", "chunks", "embeddings")]
        with tr.span("local_context", "query", op) as s_local:
            le, lr, ls = keep(q.local_context(keywords, *tables, k=q.TOP_K))
        with tr.span("global_context", "query", op) as s_global:
            ge, gr, gs = keep(q.global_context(keywords, *tables, k=q.TOP_K))
        with tr.span("render_query_result", "query", op) as s_render:
            text = q.render_query_result({
                "local_entities": le, "local_relationships": lr,
                "local_sources": ls, "global_entities": ge,
                "global_relationships": gr, "global_sources": gs,
            })
    for df in cached:
        df.unpersist()
    out["store.read_s"] = tr.self_time(s_read)
    out["query.local_s"] = tr.self_time(s_local)
    out["query.global_s"] = tr.self_time(s_global)
    out["query.render_s"] = tr.self_time(s_render)
    out["query.result_bytes"] = len(text.encode())
    return text, out


# ---------------------------------------------------------------------------
# process set-up and tear-down
# ---------------------------------------------------------------------------


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let the
    Python workers import the repository from any working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(0, ROOT)


def start_session(log_path: str):
    """``build_session`` at ``local[<cpus>]``, no extra conf.  The JVM
    (and the Python workers it forks) write their stderr to
    ``log_path``."""
    from kgforge.session import build_session

    cpus = len(os.sched_getaffinity(0))
    saved = os.dup(2)
    with open(log_path, "w") as log:
        os.dup2(log.fileno(), 2)
        try:
            spark = build_session("perfbench", master=f"local[{cpus}]")
        finally:
            os.dup2(saved, 2)
            os.close(saved)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    reap_children()


def reap_children(timeout: float = 30.0) -> None:
    """Reap exited children; wait for (then kill) any process still
    descending from this one."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        live = [p for p, state in descendants(os.getpid()) if state != "Z"]
        if not live:
            return
        if time.monotonic() > deadline:
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.2)


def report(bench: Bench, metrics: dict, trace: bool) -> dict:
    """Print every metric by name with unit and sample count; return
    the result line, whose metrics are exactly those BENCHMARK.json
    declares for this mode (per-layer with tracing, else end-to-end)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if trace else "end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in metrics]
    if missing:
        raise RuntimeError(f"declared metrics not measured: {missing}")
    bad = [n for n, ok, _ in bench.checks if not ok]
    bad_probes = [n for n, ok in bench.probes if not ok]
    denom = bench.attempted + len(bench.checks) + len(bench.probes)
    errors = bench.failed + len(bad) + len(bad_probes)
    print(f"metric error_rate {errors / denom:.6f} ratio (n={denom}: "
          f"{bench.attempted} ops, {len(bench.checks)} checks, "
          f"{len(bench.probes)} probes; failed ops {bench.failed}, failed "
          f"checks {bad}, failed probes {bad_probes})", flush=True)
    for name, (value, unit, n) in {**metrics, **bench.printed}.items():
        print(f"metric {name} {value:.6g} {unit} (n={n})", flush=True)
    return {
        "correct": not bad,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]][0], "unit": m["unit"]}
            for m in declared
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    work = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    log_path = os.path.join(work, "jvm.log")
    spark = bench = None
    try:
        prepare_env(work)
        spark = start_session(log_path)
        jvm_s = time.perf_counter() - T_START
        bench = Bench(args, work, spark, jvm_s)
        result = report(bench, bench.run(), bool(args.trace))
    except Exception:
        traceback.print_exc()
        if os.path.exists(log_path):
            with open(log_path, errors="replace") as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
        result = None
    finally:
        if bench is not None:
            bench.rss.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
