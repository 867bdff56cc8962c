"""End-to-end KG-construction pipeline (Insert path, SURVEY.md §3.1).

Reference lifecycle (insert.go:177-222 -> 224-291 -> 499-690):
clean -> chunk -> persist chunks -> per-chunk LLM extraction ->
canonicalize -> merge entities/relationships -> upsert graph + vector
stores.

Spark plan (one narrow stage + two keyed shuffles + MERGE writes):

  repos (partitioned repo/lang)
    -> sha-gate anti-join vs checkpoint           [shuffle on doc_id]
    -> chunker pandas UDF + posexplode            [narrow]
    -> extraction pandas UDF -> from_json         [narrow]
    -> explode mentions + canonicalize            [narrow]
    -> entity reduce  groupBy(entity_id)          [shuffle, 2-level]
    -> edge reduce    groupBy(src, dst)           [shuffle, 2-level]
    -> summary pandas UDF                         [coalesce: one wave]
    -> placeholder anti-join                      [small]
    -> embedding pandas UDF                       [coalesce: one wave]
    -> MERGE nodes / edges / embeddings / checkpoint

The summary and embedding UDFs run on one task wave
(defaultParallelism tasks, through session.one_wave).  Each Python
task pays a fixed ~0.2 s worker charge (see one_wave); on the merge's
shuffle partitions the two UDFs cost ~150 tasks per ingest for under
a second of Python work.  coalesce is narrow, so the last reduce
before each UDF shares its wave; earlier shuffles keep their width.
The chunker stays on its input splits: its work grows with the
corpus, and documents_as_repos spreads an under-split source.

Scale notes (100 TB / 10^12 files): the expensive work (chunk +
extract) is embarrassingly parallel and partition-pruned by
(repo, lang); the only global shuffles key on entity/pair names whose
skew is absorbed by the two-level aggregations in kgforge.merge plus
AQE skew handling; all writes are keyed upserts so any re-run (resume)
is idempotent.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge import checkpoint as ckpt
from kgforge import merge as mrg
from kgforge.canonicalize import HEURISTIC_ENTITY_TYPES, explode_mentions
from kgforge.chunking import clean_content, doc_id_col
from kgforge.embedding import MODEL_NAME, embed_udf
from kgforge.schemas import SEP
from kgforge.session import one_wave
from kgforge.store import ParquetTableStore


@dataclass
class PipelineConfig:
    extractor: str = "heuristic"
    entity_types: Sequence[str] = field(
        default_factory=lambda: list(HEURISTIC_ENTITY_TYPES)
    )
    chunk_max_tokens: int = 1024
    chunk_overlap_tokens: int = 128
    max_summary_tokens: int = mrg.DEFAULT_MAX_SUMMARY_TOKENS
    # per-key reducer-state caps for the merge reduce (None = module
    # defaults).  Coupled to max_summary_tokens — see
    # merge.min_list_cap_for_summary.  Exposed mainly so the hot-key
    # benchmark can A/B bounded vs effectively-unbounded state.
    merge_max_list_values: Optional[int] = None
    merge_max_sources: Optional[int] = None
    with_embeddings: bool = True
    # observe()-based metrics piggyback counts on write actions (one
    # fewer job each) but the observation listener never fires for
    # actions run inside a streaming foreachBatch — the streaming
    # path disables them and falls back to count().
    use_observations: bool = True
    now: dt.datetime = field(
        default_factory=lambda: dt.datetime(
            2024, 1, 1, tzinfo=dt.timezone.utc
        )
    )


def documents_as_repos(docs: DataFrame) -> DataFrame:
    """Adapt the harness ``documents`` table (doc_id, text, lang,
    source, n_chars) to the BASELINE.json input_hint corpus shape
    (repo, path, commit, lang, content) — source plays repo, doc_id
    plays path, commit is fixed.

    Normalizes parallelism: the harness tables are single parquet
    files (one input split), which would serialize every downstream
    narrow stage (chunker/extractor UDFs).  A real 100 TB corpus
    arrives in many splits; here we repartition up to the session's
    parallelism when the source is under-split.  One task wave
    (defaultParallelism), not two: uniform rows gain nothing from the
    second wave and pay its scheduling + Python-worker round-trips
    (see __spark_entry__._spread)."""
    out = docs.select(
        F.col("source").alias("repo"),
        F.col("doc_id").cast("string").alias("path"),
        F.lit("HEAD").alias("commit"),
        F.col("lang").alias("lang"),
        F.col("text").alias("content"),
    )
    target = docs.sparkSession.sparkContext.defaultParallelism
    # inputFiles() is metadata-only; df.rdd.getNumPartitions() would
    # force a full RDD conversion plan per call (VERDICT r1).  Non-file
    # sources report no files and get spread defensively.
    if len(docs.inputFiles()) < target:
        out = out.repartition(target)
    return out


def extract_exploded(
    repos: DataFrame, config: PipelineConfig
) -> tuple[DataFrame, DataFrame]:
    """repos -> (exploded chunk+extraction rows, rejects).

    Two wire formats, picked by the configured extractor:

    - **heuristic** (the default): the UDF only CHUNKS — extraction
      is a pure JVM column expression over the chunk content
      (extraction.heuristic_extraction_col), so the content crosses
      the JVM<->Python boundary once and the ~45x-the-corpus
      extraction payload (67 MB of JSON at sf0.1) never exists: no
      json.dumps in the worker, no Arrow transfer of it, no
      from_json.  The ``extraction_json`` column carries NULL so the
      frame shape is identical for both wires.
    - **fixture / LLM extractors** (opaque Python): ONE fused pandas
      UDF chunks AND extracts per document, returning the llmResult
      JSON parsed later by from_json — the generic wire, unchanged.

    Persist the parsed frame (see parse_extraction): chunks / entity
    mentions / relationship mentions all derive from it with JVM-only
    operators."""
    sql_extraction = config.extractor == "heuristic"
    if sql_extraction:
        from kgforge.chunking import make_chunker_udf

        udf = make_chunker_udf(
            config.chunk_max_tokens, config.chunk_overlap_tokens
        )
        json_col = F.lit(None).cast("string")
    else:
        from kgforge.extraction import make_chunk_extract_udf

        udf = make_chunk_extract_udf(
            config.extractor,
            config.chunk_max_tokens,
            config.chunk_overlap_tokens,
        )
        json_col = F.col("chunk.extraction_json")
    base = (
        repos.withColumn("doc_id", doc_id_col())
        .withColumn("content_clean", clean_content(F.col("content")))
        .withColumn("content_sha", F.sha2(F.col("content"), 256))
        .withColumn(
            "chunk_arr", udf(F.col("lang"), F.col("content_clean"))
        )
    )
    rejects = base.filter(F.col("chunk_arr").isNull()).select(
        "repo", "path", "commit", "lang", "doc_id", "content_sha"
    )
    # NO pre-explode chunk_arr-isNotNull filter: posexplode_outer
    # turns a NULL (or empty) array into one null chunk row and the
    # chunk-isNotNull filter below drops it, so the pre-filter was
    # redundant — and harmful: a filter on a UDF-computed column gets
    # pushed below the spread exchange and the optimizer then
    # evaluates the chunker UDF TWICE, the first time as a SERIAL
    # pass over the unspread single-split scan (two ArrowEvalPython
    # nodes in the r6 before-plan, one of them 1-task).
    exploded = (
        base.select(
            "repo",
            "lang",
            "doc_id",
            "content_sha",
            F.posexplode_outer("chunk_arr").alias("_pos", "chunk"),
        )
        .filter(F.col("chunk").isNotNull())
        .select(
            F.concat_ws(
                "",
                F.col("doc_id"),
                F.lit("-chunk-"),
                F.col("chunk.order_index").cast("string"),
            ).alias("chunk_id"),
            "doc_id",
            "repo",
            "lang",
            F.col("chunk.order_index").alias("order_index"),
            F.col("chunk.content").alias("content"),
            F.col("chunk.token_size").alias("token_size"),
            "content_sha",
            json_col.alias("extraction_json"),
        )
    )
    if sql_extraction:
        exploded = exploded.withColumn("_sql_extraction", F.lit(True))
    return exploded, rejects


def parse_extraction(exploded: DataFrame) -> DataFrame:
    """Attach the typed extraction struct ONCE.  Persist THIS frame
    (not the raw one): every consumer — entity mentions, relationship
    mentions, per-doc metric counts — then explodes a cached struct.

    SQL-expressible extractors (the ``_sql_extraction`` marker from
    extract_exploded) build the struct with JVM expressions over the
    chunk content; opaque extractors parse their JSON wire with
    from_json, as before."""
    from kgforge.schemas import EXTRACTION_SCHEMA

    if "_sql_extraction" in exploded.columns:
        from kgforge.extraction import heuristic_extraction_col

        return exploded.withColumn(
            "extraction", heuristic_extraction_col(F.col("content"))
        ).drop("extraction_json", "_sql_extraction")
    return exploded.withColumn(
        "extraction",
        F.from_json(F.col("extraction_json"), EXTRACTION_SCHEMA),
    ).drop("extraction_json")


def chunks_of(extracted: DataFrame) -> DataFrame:
    """CHUNKS_SCHEMA projection of the fused frame."""
    return extracted.drop("extraction", "extraction_json")


def mentions_of(
    extracted: DataFrame, config: PipelineConfig
) -> tuple[DataFrame, DataFrame]:
    """(entity mentions, relationship mentions) — JVM-side explode
    over the (cached) parsed frame."""
    return explode_mentions(extracted, config.entity_types)


def extract_mentions(
    repos: DataFrame, config: PipelineConfig
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """repos -> (chunks, rejects, entity_mentions, rel_mentions)."""
    exploded, rejects = extract_exploded(repos, config)
    extracted = parse_extraction(exploded)
    ents, rels = mentions_of(extracted, config)
    return chunks_of(extracted), rejects, ents, rels


def build_graph(
    ent_mentions: DataFrame,
    rel_mentions: DataFrame,
    existing_nodes: Optional[DataFrame] = None,
    existing_edges: Optional[DataFrame] = None,
    config: Optional[PipelineConfig] = None,
    known_node_ids: Optional[DataFrame] = None,
    persist: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Mentions -> merged (nodes, edges) incl. placeholders + summary.

    Incremental-scale contract: callers should pass ``existing_nodes``
    / ``existing_edges`` ALREADY RESTRICTED (left-semi) to the keys
    present in the new mentions — untouched graph rows then never
    enter the reduce or get rewritten.  ``known_node_ids`` must cover
    ALL node ids in the store (touched or not) so the dangling-
    endpoint check (insert.go:625-663) doesn't re-create placeholders
    for entities that already exist untouched.

    ``persist=True`` caches the merged frames before the placeholder
    anti-join fans the DAG out — without it the whole mention lineage
    (two chained Python UDF stages) is re-evaluated per consumer,
    which measurably compounds per plan layer.
    """
    config = config or PipelineConfig()
    nodes = mrg.aggregate_entities(
        ent_mentions, existing_nodes, now=config.now,
        max_list_values=config.merge_max_list_values,
        max_sources=config.merge_max_sources,
    )
    nodes = mrg.apply_description_summary(
        nodes, "entity_id", config.max_summary_tokens
    )
    edges = mrg.aggregate_relationships(
        rel_mentions, existing_edges, now=config.now,
        max_list_values=config.merge_max_list_values,
        max_sources=config.merge_max_sources,
    )
    edges = mrg.apply_description_summary(
        edges,
        "src",  # reference summarizes under the composite key; name only feeds the prompt
        config.max_summary_tokens,
    )
    if persist:
        nodes = nodes.persist()
        edges = edges.persist()
    known = nodes.select("entity_id")
    if known_node_ids is not None:
        known = known.unionByName(known_node_ids.select("entity_id"))
    placeholders = mrg.placeholder_nodes(edges, known, now=config.now)
    nodes = nodes.unionByName(placeholders)
    return nodes, edges


def embedding_rows(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """S8: entity text = name+descriptions (insert.go:561); edge text =
    keywords+src+dst+descriptions (insert.go:683-684).

    Relationship rows carry (src, dst) as real columns and a
    length-prefixed id — an entity name containing '|' can neither
    corrupt the recovered edge key (the query side joins on the
    columns, never splits the id) nor collide two distinct edges onto
    one upsert key (the length prefix pins where src ends)."""
    ent = nodes.select(
        F.col("entity_id").alias("id"),
        F.lit("entity").alias("kind"),
        F.concat(
            F.col("entity_id"), F.array_join("descriptions", SEP)
        ).alias("text"),
        F.lit(None).cast("string").alias("src"),
        F.lit(None).cast("string").alias("dst"),
    )
    rel = edges.select(
        F.concat_ws(
            "|", F.length("src").cast("string"), F.col("src"), F.col("dst")
        ).alias("id"),
        F.lit("relationship").alias("kind"),
        F.concat(
            F.array_join("keywords", SEP),
            F.col("src"),
            F.col("dst"),
            F.array_join("descriptions", SEP),
        ).alias("text"),
        F.col("src"),
        F.col("dst"),
    )
    return (
        one_wave(ent.unionByName(rel))
        .withColumn("vector", embed_udf(F.col("text")))
        .withColumn("model", F.lit(MODEL_NAME))
        .withColumn("created_at", F.lit(None).cast("timestamp"))
    )


def run_insert(
    spark: SparkSession,
    repos: DataFrame,
    store: ParquetTableStore,
    config: Optional[PipelineConfig] = None,
) -> dict:
    """Full resumable insert run against a table store.

    Returns run metrics (docs processed / skipped, chunks, nodes,
    edges).  Re-running with the same inputs is a no-op thanks to the
    sha-gate; killing between writes and re-running converges because
    every write is a keyed upsert.
    """
    config = config or PipelineConfig()

    repos_ids = repos.withColumn("doc_id", doc_id_col()).withColumn(
        "content_sha", F.sha2(F.col("content"), 256)
    )
    existing_ckpt = store.read("checkpoint")
    todo = ckpt.sha_gate(repos_ids, existing_ckpt)
    # Cache the pending frame: the DAG fans out into chunks/entities/
    # edges/metrics.
    todo = todo.persist()
    if existing_ckpt is not None:
        # The gate's anti-join must run before we know the pending
        # set; its count doubles as the cache-materializing action.
        n_todo = todo.count()
        n_total = repos_ids.count()
    else:
        # Fresh store: the gate is a no-op, so the pending set IS the
        # corpus.  A column-pruned row count (no sha256, no content
        # bytes) replaces the full materializing pass — the cache
        # fills inside the first staging job instead, removing one
        # whole corpus scan from the cold-start ingest.
        n_todo = n_total = repos_ids.count()
    if n_todo == 0:
        todo.unpersist()
        return {
            "docs_total": n_total,
            "docs_processed": 0,
            "docs_skipped": n_total,
        }

    raw, rejects = extract_exploded(
        todo.drop("doc_id", "content_sha"), config
    )
    # ONE cache for the fused chunk+extraction output, cached AFTER
    # the JSON->struct parse: chunks, entity mentions, relationship
    # mentions and the metric counts all derive from it with JVM-only
    # explodes, so the Python stage AND the JSON parse run exactly once.
    exploded = parse_extraction(raw).persist()
    chunks = chunks_of(exploded)
    ents, rels = mentions_of(exploded, config)

    # All table writes are STAGED (fully materialized to temp dirs)
    # and committed together at the end: the reference's crash window
    # between "edges upserted" and "checkpoint written" — which would
    # double-count additive edge weights on resume (the sha-gate
    # re-admits the doc) — collapses to a rename loop.
    #
    # Independent staging actions run CONCURRENTLY (thread-submitted
    # Spark jobs): the disk-bound chunks write and the small
    # rejects/checkpoint jobs overlap the big merge shuffles instead
    # of serializing after them — cores idle during a low-parallelism
    # phase pick up the other jobs' tasks (on a real cluster this is
    # standard concurrent-job-group scheduling).
    staged = []
    # Rejects via anti-join of go docs vs produced chunks: avoids
    # re-running the chunker UDF lineage a second time just to find
    # the null rows.  (A parsed .go file always yields >= 1 chunk.)
    go_docs = todo.filter(F.col("lang") == "go").select(
        "doc_id", "repo", "lang", "content_sha",
        F.col("path"), F.col("commit"),
    )
    rejected = go_docs.join(
        chunks.select("doc_id").distinct(), "doc_id", "left_anti"
    ).withColumn("status", F.lit("go-parse-error"))

    # Incremental merge: only graph rows whose key appears in the new
    # mentions enter the reduce (left-semi restriction).  Untouched
    # rows stay in place via the keyed upsert — at 10^12-file scale a
    # delta run re-aggregates only its own keys instead of the world.
    existing_nodes = store.read("nodes")
    existing_edges = store.read("edges")
    known_node_ids = None
    if existing_nodes is not None:
        known_node_ids = existing_nodes.select("entity_id")
        touched_ents = ents.select(
            F.col("entity_name").alias("entity_id")
        ).distinct()
        existing_nodes = existing_nodes.join(
            touched_ents, "entity_id", "left_semi"
        )
    if existing_edges is not None:
        touched_pairs = rels.select("src", "dst").distinct()
        existing_edges = existing_edges.join(
            touched_pairs, ["src", "dst"], "left_semi"
        )

    nodes, edges = build_graph(
        ents,
        rels,
        existing_nodes=existing_nodes,
        existing_edges=existing_edges,
        config=config,
        known_node_ids=known_node_ids,
        persist=True,
    )
    # Ride row-count metrics on the write actions (observe) instead of
    # separate count() jobs — the driver-side serial job count is the
    # Amdahl floor of small-scale runs.
    from pyspark.sql import Observation

    use_obs = config.use_observations
    obs_nodes, obs_edges = Observation(), Observation()
    nodes = nodes.persist()
    edges = edges.persist()
    nodes_w = (
        nodes.observe(obs_nodes, F.count(F.lit(1)).alias("n"))
        if use_obs else nodes
    )
    edges_w = (
        edges.observe(obs_edges, F.count(F.lit(1)).alias("n"))
        if use_obs else edges
    )

    # checkpoint: lineage + per-doc metrics — ONE aggregation over the
    # cached fused frame (higher-order size/filter on the struct
    # arrays) instead of three explode+groupBy passes
    docs = todo.select("doc_id", "repo", "lang", "content_sha")
    ckpt_rows = ckpt.build_checkpoint_rows(
        docs, ckpt.fused_metric_counts(exploded), now=config.now
    )
    obs_ckpt = Observation()
    ckpt_w = (
        ckpt_rows.observe(obs_ckpt, F.sum("n_chunks").alias("n_chunks"))
        if use_obs else ckpt_rows
    )

    # Stage every table concurrently — chunks included: the threads
    # race on the shared exploded/todo caches, but cached-partition
    # computation is deduplicated by the block manager (per-block
    # getOrElseUpdate locking: the first task computes, the rest
    # block and read), so the Python chunker stage still runs exactly
    # once while the disk-bound chunks write overlaps the merge
    # shuffles instead of serializing before them.
    from concurrent.futures import ThreadPoolExecutor

    stage_jobs = [
        ("chunks", lambda: store.stage_upsert(
            "chunks", chunks, ["chunk_id"])),
        ("edges", lambda: store.stage_upsert(
            "edges", edges_w, ["src", "dst"])),
        ("nodes", lambda: store.stage_upsert(
            "nodes", nodes_w, ["entity_id"])),
        ("rejects", lambda: store.stage_upsert(
            "rejects", rejected, ["doc_id"])),
        ("checkpoint", lambda: store.stage_upsert(
            "checkpoint", ckpt_w, ["doc_id"])),
    ]
    with ThreadPoolExecutor(max_workers=len(stage_jobs)) as pool:
        futures = [pool.submit(fn) for _, fn in stage_jobs]
        staged.extend(f.result() for f in futures)

    if config.with_embeddings:
        # after the nodes/edges caches exist (their staging actions
        # materialized them) so the embed UDF reads cached graph rows
        staged.append(
            store.stage_upsert(
                "embeddings", embedding_rows(nodes, edges), ["id", "kind"]
            )
        )
    # Single commit point: graph + lineage become visible together.
    store.commit(staged)

    metrics = {
        "docs_total": n_total,
        "docs_processed": n_todo,
        "docs_skipped": n_total - n_todo,
        # O(delta) observability: how many hash buckets each table
        # write actually rewrote (incremental runs touch few)
        "store_buckets_touched": {
            s.name: s.buckets_touched for s in staged
        },
        "n_chunks": (
            int(obs_ckpt.get["n_chunks"] or 0)
            if use_obs else chunks.count()
        ),
        "n_nodes": int(obs_nodes.get["n"]) if use_obs else nodes.count(),
        "n_edges": int(obs_edges.get["n"]) if use_obs else edges.count(),
    }
    for df in (todo, exploded, nodes, edges):
        df.unpersist()
    return metrics
