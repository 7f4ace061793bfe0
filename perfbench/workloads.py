"""Workload definitions: which calls a pass makes, and how each call's
output is checked.

Most calls are registry entries. A layer whose cheapest registry entry
costs more than a run can afford (the similarity, retrieval and text
statistics entries each take 5-11 s warm and 10-21 s cold on 4 cores,
on tables whose size does not change with the scale factor) is called
through one of its own functions instead: a probe. A probe's output is
checked against the DuckDB query of the part of the layer's registry
oracle it reproduces.

A layer is the package module that registers an entry, named relative
to the package root (``ps``, ``streaming``, ``operators.dedup``, ...);
a probe names the layer whose function it calls. Rows-only entries (no
DuckDB oracle) carry the row count they must return on the benchmark's
tables.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

PACKAGE = "flink_parameter_server_spark"


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    entries: tuple[str, ...]


@dataclass(frozen=True)
class Call:
    """One call a pass makes: ``fn(spark, data_dir)`` returns the result
    DataFrame; ``oracle`` is the DuckDB query it must match, or None for
    a rows-only entry."""

    name: str
    layer: str
    fn: Callable
    oracle: str | None


# Every run starts a fresh JVM and pays ~10 s of set-up and a 20-30 s
# cold check pass before timing anything, which leaves room for two
# passes of 7-9 s. train_curate exercises the push fold
# (mf_epoch_factors is its largest call); online_serve bypasses it, so
# a fold change should leave it unmoved while a pull-side change shows
# there.
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="train_curate",
            why=(
                "offline batch side: epoch pull joins feeding the exact decimal push fold, "
                "sketch folds and corpus dedup/ML-prep/text/multimodal passes; no stream"
            ),
            entries=("mf_epoch_factors", "ams_sketches", "dedup_exact", "embedding_quantize",
                     "redact_dedup_lines", "multimodal_pipeline"),
        ),
        Workload(
            name="online_serve",
            why=(
                "bypasses the batch push fold: the online per-record learner drained from a "
                "stream, then pulls: model scoring, co-purchase top-5, cosine top-5, inverted index"
            ),
            entries=("online_ps_sequential", "mf_predict", "copurchase_recommend_top5",
                     "cosine_top5", "inverted_index"),
        ),
    )
}

# Row counts of the rows-only entries on the benchmark's tables (sf0.001).
EXPECTED_ROWS = {"online_ps_sequential": 1592}

# Every layer a workload touches, in report order.
LAYERS = (
    "ps",
    "streaming",
    "operators.sketches",
    "operators.recommend",
    "operators.similarity",
    "operators.retrieval",
    "operators.dedup",
    "operators.textstats",
    "operators.mlprep",
    "operators.multimodal",
)


def layer_of(spec) -> str:
    """Module that registered ``spec``, relative to the package root."""
    module = spec.fn.__wrapped__.__module__
    layer = module.removeprefix(PACKAGE + ".")
    # ps/queries.py and streaming/queries.py register for their package.
    return layer.removesuffix(".queries")


def probes() -> dict[str, Call]:
    """The probe calls. Imports the package, so call it once Spark is set up."""
    from pyspark.sql import functions as F

    from flink_parameter_server_spark.operators import retrieval, similarity, textstats
    from flink_parameter_server_spark.operators._util import t

    def redact_dedup_lines(spark, data):
        # Two of text_profile's per-document transforms; the oracle below
        # repeats text_profile's DuckDB forms of the same columns.
        clean, removed = textstats.dedup_lines(F.col("text"))
        return t(spark, data, "documents").select(
            "doc_id",
            textstats.redact_pii(F.col("text")).alias("redacted_text"),
            clean.alias("dedup_lines_text"),
            removed.alias("n_dup_lines_removed"),
        )

    kept_lines = (
        "list_filter(string_split(text, chr(10)), "
        "(x, i) -> list_position(string_split(text, chr(10)), x) = i)"
    )
    return {
        c.name: c
        for c in (
            # The exact-cosine method of embedding_ann_topk.
            Call("cosine_top5", "operators.similarity",
                 lambda spark, data: similarity.embedding_cosine_topk(spark, data, k=5),
                 f"SELECT query_id, neighbor_id, cos_sim, rk FROM ({similarity._BRUTE_SQL})"),
            # The posting-list part of text_retrieval.
            Call("inverted_index", "operators.retrieval",
                 lambda spark, data: retrieval.inverted_index(spark, data),
                 "SELECT tok, n1 AS df, n2 AS n_occ, postings "
                 f"FROM ({retrieval._INVERTED_SQL_TMPL})"),
            Call("redact_dedup_lines", "operators.textstats", redact_dedup_lines, f"""
SELECT doc_id,
  regexp_replace(regexp_replace(text, '{textstats.EMAIL_RE}', '<EMAIL>', 'g'),
                 '{textstats.URL_RE}', '<URL>', 'g') AS redacted_text,
  CASE WHEN text IS NOT NULL THEN
    coalesce(array_to_string({kept_lines}, chr(10)), '')
  END AS dedup_lines_text,
  CAST(len(string_split(text, chr(10))) - len({kept_lines}) AS BIGINT) AS n_dup_lines_removed
FROM documents
"""),
        )
    }


def calls(registry, workload: Workload) -> dict[str, Call]:
    """The workload's calls by name: its probes, and its registry entries."""
    probe = probes()
    return {
        name: probe[name] if name in probe else Call(
            name, layer_of(registry[name]), registry[name].fn, registry[name].oracle
        )
        for name in workload.entries
    }
