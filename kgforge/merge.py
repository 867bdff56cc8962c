"""Entity/relationship merge reduces (E4a/E4b, SURVEY.md §2.4).

Reference semantics (/root/reference/insert.go:499-690), per key:

- entity (key = canonical NAME): type = most frequent over {existing
  type} ∪ new mention types (mostFrequentItem, rag.go:237-258 — map
  order ties there are nondeterministic; we tie-break
  lexicographically per SURVEY §7); descriptions = existing split on
  <SEP> ++ append-unique new (rag.go:230-235); source_ids =
  append-unique chunk id; summarize via LLM iff the <SEP>-joined
  descriptions reach MaxSummariesTokenLength (descriptionsSummary,
  insert.go:692-723); upsert node.
- relationship (key = undirected pair): weight is ADDITIVE
  (insert.go:595-615); descriptions/keywords/source_ids append-unique;
  placeholder UNKNOWN nodes for dangling endpoints (insert.go:625-663);
  upsert edge.

Physical shape — exactly TWO shuffles per key space, skew-aware:

1. tall projection: each mention row explodes into (key, kind,
   value, ord, weight) legs — kind ∈ {type, desc, sid, kw} — a narrow
   map stage;
2. PRE-AGGREGATION ``groupBy(key, kind, value)``: dedup + counts +
   min-order + weight partial sums.  This is the salting step: a hot
   entity key is spread over all its distinct (kind, value) combos and
   Spark's hash aggregate adds map-side combine on top, so no single
   reducer sees the raw mention stream;
3. FINAL ``groupBy(key)``: assembles the modal type
   (sort by (-count, value) — lexicographic tie-break), the
   first-occurrence-ordered distinct description/keyword lists, the
   sorted source_id set, and the additive weight.

The reference's sequential read-modify-write race (SURVEY §3.1
hazard) disappears: one associative reduce per key.  Existing table
state enters the same reduce as pseudo-mention legs with priority 0
(sorting before all new mentions), reproducing the "existing first,
then new-unique" order of the reference.
"""

from __future__ import annotations

import datetime as dt
from typing import Callable, List, Optional

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from kgforge import tokenizer
from kgforge.schemas import SEP
from kgforge.session import one_wave

DEFAULT_MAX_SUMMARY_TOKENS = 1200  # default.go:44

# Per-key state bounds for the merge reduce (VERDICT r3 item 1).
# desc/kw cap: lossless w.r.t. the token-gated summary — the 1200-token
# gate fires by ~300 entries and the summary keeps < 601, both far
# below 1024 (see _reduce_tall docstring for the arithmetic).
DEFAULT_MAX_LIST_VALUES = 1024
# source_ids sample bound: the array becomes (ascending prefix + exact
# max); n_sources / array_min / array_max stay exact at any scale.
DEFAULT_MAX_SOURCES = 1024

_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def min_list_cap_for_summary(max_summary_tokens: int) -> int:
    """Smallest ``max_list_values`` cap that is LOSSLESS for a
    downstream :func:`apply_description_summary` gate of
    ``max_summary_tokens`` (ADVICE r4 — the cap and the gate are
    coupled; a cap below this can truncate a description list the
    summary would still have read).

    Two requirements, take the max:

    - the gate must FIRE before the cap can drop anything: n entries
      join to >= 4n - 3 tokens (each entry >= 1 token, each <SEP>
      adds 3), so lists longer than (max_tokens + 3) / 4 entries are
      always summarized;
    - the summary itself keeps at most a max_tokens/2-token prefix
      (mock_summarize's budget; first entry always kept), i.e. fewer
      than max_tokens/2 + 1 entries — the cap must retain at least
      that prefix.

    The second bound dominates for every max_tokens >= 2.  The
    defaults satisfy it: min_list_cap_for_summary(1200) = 601 <= 1024.
    """
    gate_bound = (max_summary_tokens + 3 + 3) // 4  # ceil((t+3)/4)
    summary_bound = max_summary_tokens // 2 + 1
    return max(gate_bound, summary_bound)


def mock_summarize(name: str, descriptions: list) -> str:
    """Deterministic stand-in for the LLM summarizer
    (descriptionsSummary, insert.go:692-723).  Keeps descriptions in
    order until half the token budget is spent.  A production run
    plugs an LLM call here (same signature)."""
    budget = DEFAULT_MAX_SUMMARY_TOKENS // 2
    kept, used = [], 0
    for d in descriptions:
        n = tokenizer.count_tokens(d)
        if kept and used + n > budget:
            break
        kept.append(d)
        used += n
    return "Summary of " + name + ": " + SEP.join(kept)


def _tall_legs(
    df: DataFrame,
    key_cols: List[str],
    legs: List,  # list of (kind, value_col, ord_col)
    weight_col=None,
    created_col=None,
) -> DataFrame:
    """Explode one row into its (kind, value, ord) legs; weight and
    created_at ride on the FIRST leg only so sums/mins stay exact."""
    structs = []
    for i, (kind, value, ordc) in enumerate(legs):
        structs.append(
            F.struct(
                F.lit(kind).alias("kind"),
                value.cast("string").alias("value"),
                ordc.cast("string").alias("ord"),
                (
                    weight_col
                    if (weight_col is not None and i == 0)
                    else F.lit(None).cast("double")
                ).alias("w"),
                (
                    created_col
                    if (created_col is not None and i == 0)
                    else F.lit(None).cast("timestamp")
                ).alias("c"),
            )
        )
    return df.select(
        *key_cols, F.explode(F.array(*structs)).alias("leg")
    ).select(
        *key_cols,
        F.col("leg.kind").alias("kind"),
        F.col("leg.value").alias("value"),
        F.col("leg.ord").alias("ord"),
        F.col("leg.w").alias("w"),
        F.col("leg.c").alias("c"),
    )


def _reduce_tall(
    tall: DataFrame,
    key_cols: List[str],
    max_list_values: Optional[int] = None,
    max_sources: Optional[int] = None,
) -> DataFrame:
    """The two-shuffle reduce over tall legs (see module docstring),
    with BOUNDED per-key state (VERDICT r3 item 1).

    A mega-entity mentioned across 10^9 chunks with distinct
    descriptions/chunk ids must not OOM its final reducer, so between
    the pre-aggregation and the final ``groupBy(key)`` a window stage
    (same ``(key, kind)`` partitioning, spillable sort — never an
    in-memory array) caps what reaches the final collect:

    - ``desc``/``kw`` legs: only the first ``max_list_values`` values
      in append order survive.  Lossless for any consumer downstream
      of the token-gated summary: the gate fires whenever the list
      exceeds ~300 entries (each entry is >= 1 token and each
      ``<SEP>`` join adds 3), and the summary keeps at most a
      ~600-token prefix (< 601 entries) — both far below the cap, so
      the capped prefix and the full list summarize identically.
    - ``sid`` legs: the ascending prefix of ``max_sources`` ids PLUS
      the maximum id survive, making ``source_ids`` a bounded sorted
      sample whose array_min/array_max stay EXACT; the exact distinct
      count is computed pre-cap by a window count and emitted as the
      ``n_sources`` column.

    Exactness riders computed BEFORE the cap filter so dropped rows
    cannot lose information: additive ``weight`` and min
    ``created_at`` ride per-kind window totals picked off each
    kind's rank-1 row (always kept); ``n_sources`` is the pre-cap
    window count, floored by any ``nsrc`` carry-over leg (an existing
    node re-entering the merge after ITS sample was capped — the
    merged count is then a monotone lower bound, exact below cap).
    """
    if max_list_values is None:
        max_list_values = DEFAULT_MAX_LIST_VALUES
    if max_sources is None:
        max_sources = DEFAULT_MAX_SOURCES
    pre = tall.groupBy(*key_cols, "kind", "value").agg(
        F.min("ord").alias("ord"),
        F.count(F.when(F.col("kind") == "type", 1)).alias("cnt"),
        F.sum("w").alias("w"),
        F.min("c").alias("c"),
    )

    # ONE exchange for the window AND the final groupBy: the reduced
    # pre rows are repartitioned on the key alone, which satisfies the
    # (key, kind) window's clustering requirement (subset rule) and
    # the final groupBy(key)'s — so the whole bounding stage plus the
    # final reduce ride a single shuffle of already-combined rows
    # (same exchange count as the unbounded round-3 plan).
    pre = pre.repartition(*key_cols)
    wk = Window.partitionBy(*key_cols, "kind")
    wk_ord = wk.orderBy("ord", "value")
    # The unordered stats windows ride the SAME exchange and the same
    # (key, kind)-prefixed sort as the row_number — one shuffle + one
    # sort total; values are distinct per (key, kind) after pre, so
    # "value == per-kind max" identifies exactly the max-sid row.
    pre = pre.select(
        "*",
        F.row_number().over(wk_ord).alias("_rn"),
        F.max("value").over(wk).alias("_max_val"),
        F.count(F.lit(1)).over(wk).alias("_n_kind"),
        F.sum("w").over(wk).alias("_w_kind"),
        F.min("c").over(wk).alias("_c_kind"),
    )
    capped_list = F.col("kind").isin("desc", "kw")
    keep = (
        F.when(capped_list, F.col("_rn") <= max_list_values)
        .when(
            F.col("kind") == "sid",
            (F.col("_rn") <= max_sources)
            | (F.col("value") == F.col("_max_val")),
        )
        .otherwise(F.lit(True))
    )
    pre = pre.filter(keep)

    def ordered_list(kind: str):
        return F.array_distinct(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            (F.col("kind") == kind)
                            & F.col("value").isNotNull(),
                            F.struct(F.col("ord"), F.col("value")),
                        )
                    )
                ),
                lambda s: s["value"],
            )
        )

    modal_type = F.element_at(
        F.array_sort(
            F.collect_list(
                F.when(
                    (F.col("kind") == "type") & F.col("value").isNotNull(),
                    F.struct(
                        (-F.col("cnt")).alias("nc"), F.col("value")
                    ),
                )
            )
        ),
        1,
    )["value"]

    first_of_kind = F.col("_rn") == 1
    return pre.groupBy(*key_cols).agg(
        modal_type.alias("entity_type"),
        ordered_list("desc").alias("descriptions"),
        F.array_sort(
            F.collect_set(F.when(F.col("kind") == "sid", F.col("value")))
        ).alias("source_ids"),
        F.greatest(
            F.coalesce(
                F.max(
                    F.when(F.col("kind") == "sid", F.col("_n_kind"))
                ),
                F.lit(0),
            ),
            F.coalesce(
                F.max(
                    F.when(
                        F.col("kind") == "nsrc",
                        F.col("value").cast("long"),
                    )
                ),
                F.lit(0),
            ),
        ).cast("long").alias("n_sources"),
        ordered_list("kw").alias("keywords"),
        F.sum(F.when(first_of_kind, F.col("_w_kind"))).alias("weight"),
        F.min(F.when(first_of_kind, F.col("_c_kind"))).alias(
            "created_at"
        ),
    )


def aggregate_entities(
    mentions: DataFrame,
    existing_nodes: Optional[DataFrame] = None,
    now: Optional[dt.datetime] = None,
    max_list_values: Optional[int] = None,
    max_sources: Optional[int] = None,
) -> DataFrame:
    """E4a: mention rows (+ optional existing nodes) -> merged nodes.

    mentions: entity_name, entity_type, description, chunk_id,
    order_key.  existing_nodes: NODES_SCHEMA.

    ``max_list_values`` / ``max_sources`` bound per-key reducer state
    (default :data:`DEFAULT_MAX_LIST_VALUES` /
    :data:`DEFAULT_MAX_SOURCES`; see :func:`_reduce_tall`).  COUPLING
    (ADVICE r4): the desc cap is lossless only w.r.t. a
    :func:`apply_description_summary` gate of at most
    ``max_tokens`` where ``max_list_values >=``
    :func:`min_list_cap_for_summary` ``(max_tokens)`` — a caller
    raising the summary budget past ~2x the cap must raise the cap
    too, or the summary silently reads a truncated list.
    """
    now = now or _EPOCH
    new = mentions.select(
        F.col("entity_name").alias("entity_id"),
        "entity_type",
        "description",
        F.col("chunk_id").alias("source_id"),
        F.concat_ws("|", F.lit("1"), F.col("order_key")).alias("ord"),
    )
    tall = _tall_legs(
        new,
        ["entity_id"],
        [
            ("type", F.col("entity_type"), F.lit("")),
            ("desc", F.col("description"), F.col("ord")),
            ("sid", F.col("source_id"), F.lit("")),
        ],
        created_col=F.lit(now),
    )
    if existing_nodes is not None:
        # Existing node -> pseudo-mention legs (insert.go:518-527):
        # its type counts ONCE; each stored description keeps its array
        # position (priority 0 sorts before new); source_ids once each.
        # The stored exact n_sources (if present) rides an 'nsrc' leg
        # as a floor: once a node's source_ids sample was capped, the
        # re-merged count stays a monotone lower bound instead of
        # collapsing to the sample size.
        n_src_col = (
            F.col("n_sources")
            if "n_sources" in existing_nodes.columns
            else F.size("source_ids").cast("long")
        )
        ex = existing_nodes.select(
            "entity_id",
            "entity_type",
            F.col("descriptions"),
            F.col("source_ids"),
            n_src_col.alias("n_sources"),
            "created_at",
        )
        ex_type = _tall_legs(
            ex,
            ["entity_id"],
            [
                ("type", F.col("entity_type"), F.lit("")),
                ("nsrc", F.col("n_sources"), F.lit("")),
            ],
            created_col=F.col("created_at"),
        )
        ex_desc = _tall_legs(
            ex.select(
                "entity_id",
                F.posexplode_outer("descriptions").alias("_i", "d"),
            ).filter(F.col("d").isNotNull()),
            ["entity_id"],
            [
                (
                    "desc",
                    F.col("d"),
                    F.concat_ws(
                        "|",
                        F.lit("0"),
                        F.lpad(F.col("_i").cast("string"), 9, "0"),
                    ),
                )
            ],
        )
        ex_sid = _tall_legs(
            ex.select(
                "entity_id", F.explode_outer("source_ids").alias("s")
            ).filter(F.col("s").isNotNull()),
            ["entity_id"],
            [("sid", F.col("s"), F.lit(""))],
        )
        tall = tall.unionByName(ex_type).unionByName(ex_desc).unionByName(
            ex_sid
        )

    out = _reduce_tall(
        tall, ["entity_id"],
        max_list_values=max_list_values, max_sources=max_sources,
    )
    return out.select(
        "entity_id",
        "entity_type",
        "descriptions",
        "source_ids",
        "n_sources",
        "created_at",
    )


def aggregate_relationships(
    mentions: DataFrame,
    existing_edges: Optional[DataFrame] = None,
    now: Optional[dt.datetime] = None,
    max_list_values: Optional[int] = None,
    max_sources: Optional[int] = None,
) -> DataFrame:
    """E4b: relationship mentions (+ existing edges) -> merged edges.

    ``max_list_values`` / ``max_sources``: see
    :func:`aggregate_entities` (same bounds, same summary-gate
    coupling — here the desc/kw caps vs the edge description
    summary)."""
    now = now or _EPOCH
    keys = ["src", "dst"]
    new = mentions.select(
        "src",
        "dst",
        "weight",
        "description",
        F.coalesce("keywords", F.array().cast("array<string>")).alias(
            "keywords"
        ),
        F.col("chunk_id").alias("source_id"),
        F.concat_ws("|", F.lit("1"), F.col("order_key")).alias("ord"),
    )
    # keyword legs need per-element rows; explode keywords with their
    # within-mention position appended to the order key
    new_kw = new.select(
        *keys,
        F.posexplode_outer("keywords").alias("_k", "kw"),
        "ord",
    ).filter(F.col("kw").isNotNull())
    tall = _tall_legs(
        new,
        keys,
        [
            ("desc", F.col("description"), F.col("ord")),
            ("sid", F.col("source_id"), F.lit("")),
        ],
        weight_col=F.col("weight"),
        created_col=F.lit(now),
    ).unionByName(
        _tall_legs(
            new_kw,
            keys,
            [
                (
                    "kw",
                    F.col("kw"),
                    F.concat_ws(
                        "|",
                        F.col("ord"),
                        F.lpad(F.col("_k").cast("string"), 4, "0"),
                    ),
                )
            ],
        )
    )
    if existing_edges is not None:
        ex = existing_edges
        ex_n_src = (
            F.col("n_sources")
            if "n_sources" in ex.columns
            else F.size("source_ids").cast("long")
        )
        ex_w = _tall_legs(
            ex.select(
                *keys, "weight", "created_at",
                ex_n_src.alias("n_sources"),
            ),
            keys,
            [
                ("w0", F.lit(None), F.lit("")),
                ("nsrc", F.col("n_sources"), F.lit("")),
            ],
            weight_col=F.col("weight"),
            created_col=F.col("created_at"),
        )
        ex_desc = _tall_legs(
            ex.select(
                *keys, F.posexplode_outer("descriptions").alias("_i", "d")
            ).filter(F.col("d").isNotNull()),
            keys,
            [
                (
                    "desc",
                    F.col("d"),
                    F.concat_ws(
                        "|",
                        F.lit("0"),
                        F.lpad(F.col("_i").cast("string"), 9, "0"),
                    ),
                )
            ],
        )
        ex_kw = _tall_legs(
            ex.select(
                *keys, F.posexplode_outer("keywords").alias("_i", "k")
            ).filter(F.col("k").isNotNull()),
            keys,
            [
                (
                    "kw",
                    F.col("k"),
                    F.concat_ws(
                        "|",
                        F.lit("0"),
                        F.lpad(F.col("_i").cast("string"), 9, "0"),
                    ),
                )
            ],
        )
        ex_sid = _tall_legs(
            ex.select(
                *keys, F.explode_outer("source_ids").alias("s")
            ).filter(F.col("s").isNotNull()),
            keys,
            [("sid", F.col("s"), F.lit(""))],
        )
        tall = (
            tall.unionByName(ex_w)
            .unionByName(ex_desc)
            .unionByName(ex_kw)
            .unionByName(ex_sid)
        )

    out = _reduce_tall(
        tall, keys,
        max_list_values=max_list_values, max_sources=max_sources,
    )
    return out.select(
        "src",
        "dst",
        F.coalesce("weight", F.lit(0.0)).alias("weight"),
        "descriptions",
        F.coalesce("keywords", F.array().cast("array<string>")).alias(
            "keywords"
        ),
        "source_ids",
        "n_sources",
        "created_at",
    )


def apply_description_summary(
    df: DataFrame,
    name_col: str,
    max_tokens: int = DEFAULT_MAX_SUMMARY_TOKENS,
    summarize: Callable[[str, list], str] = mock_summarize,
) -> DataFrame:
    """descriptionsSummary (insert.go:692-723): if the <SEP>-joined
    descriptions reach ``max_tokens``, replace them with a summary.

    Token counting + summarization run in one Arrow-batched pandas UDF
    over the already-aggregated rows (one row per entity/edge — tiny
    relative to mentions).  Rows under the limit keep their arrays.
    The UDF runs on one task wave (session.one_wave), not on the
    reduce's shuffle partitions.

    COUPLING (ADVICE r4): if ``df`` came from an ``aggregate_*`` call
    with a ``max_list_values`` cap, ``max_tokens`` must satisfy
    ``max_list_values >= min_list_cap_for_summary(max_tokens)`` —
    otherwise this summarizes an already-truncated list.  Holds for
    the defaults (601 <= 1024); a caller raising ``max_tokens`` past
    ~2x the cap must raise the cap alongside it.
    """

    @pandas_udf(ArrayType(StringType()))
    def summarize_udf(
        names: pd.Series, descs: pd.Series
    ) -> pd.Series:
        out = []
        for name, ds in zip(names, descs):
            ds = list(ds) if ds is not None else []
            joined = SEP.join(ds)
            if tokenizer.count_tokens(joined) < max_tokens:
                out.append(ds)
            else:
                out.append([summarize(name, ds)])
        return pd.Series(out, dtype=object)

    return one_wave(df).withColumn(
        "descriptions", summarize_udf(F.col(name_col), F.col("descriptions"))
    )


def placeholder_nodes(
    edges: DataFrame, nodes: DataFrame, now: Optional[dt.datetime] = None
) -> DataFrame:
    """Dangling endpoints -> UNKNOWN placeholder nodes
    (insert.go:625-663).  Left-anti join of edge endpoints vs nodes;
    deterministic pick: the lexicographically first incident edge
    supplies description/source_id."""
    now = now or _EPOCH
    endpoints = edges.select(
        F.explode(F.array("src", "dst")).alias("entity_id"),
        F.col("descriptions"),
        F.slice(F.col("source_ids"), 1, 1).alias("source_ids"),
        F.concat_ws("|", "src", "dst").alias("_edge_key"),
    )
    dangling = endpoints.join(
        nodes.select("entity_id"), "entity_id", "left_anti"
    )
    w = Window.partitionBy("entity_id").orderBy("_edge_key")
    return (
        dangling.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "entity_id",
            F.lit("UNKNOWN").alias("entity_type"),
            "descriptions",
            "source_ids",
            F.size("source_ids").cast("long").alias("n_sources"),
            F.lit(now).alias("created_at"),
        )
    )
