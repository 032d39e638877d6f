"""Span-extraction stage: docs → mentions / dates / relations / chunks / claims.

Each derived table is one pass of the row lane (``lane.explode_lane``) over
(url, extracted_text) applying the corresponding reference_impl oracle
function per document inside the Arrow batch, exploding to rows in-batch, so
the Spark plan stays a single Python node per table with native exchanges
around it.

Reference lineage: parse shard orchestration (arkham_shard_parse/shard.py:
286-344) runs NER → dates → relations → chunks per page; here each family is
an independent column-pruned branch off the cached docs DataFrame, letting
Spark schedule them in parallel instead of sequentially per document.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

from ..reference_impl.chunker import chunk_sentences
from ..reference_impl.claims import extract_claims
from ..reference_impl.dates import extract_iso_dates, extract_relative_dates
from ..reference_impl.ner import mock_ner
from ..reference_impl.relations import extract_relations
from ..schemas import CHUNK_STRUCT, CLAIM_STRUCT, DATE_STRUCT, REL_STRUCT
from .lane import explode_lane


def _explode_per_doc(
    docs: DataFrame, fn: Callable[[str], list[dict]], schema: StructType
) -> DataFrame:
    """The per-document text lane over a two-column (key, text) frame — key
    ``url`` on the pipeline side, ``doc_id`` on the query side: the row lane
    with a null text read as "" (every extractor routed here returns an
    empty result on "")."""
    return explode_lane(docs, lambda text: fn(text or ""), schema)


def _per_url(
    docs: DataFrame, fn: Callable[[str], list[dict]], struct: StructType
) -> DataFrame:
    """The pipeline side of the lane: (url, extracted_text) → url + `struct`."""
    schema = StructType([StructField("url", StringType(), False)] + list(struct.fields))
    return _explode_per_doc(docs.select("url", "extracted_text"), fn, schema)


def extract_dates(docs: DataFrame) -> DataFrame:
    """ISO + relative date mentions (dates.py:94-160)."""

    def _fn(text: str) -> list[dict]:
        return extract_iso_dates(text) + extract_relative_dates(text)

    return _per_url(docs, _fn, DATE_STRUCT)


def extract_rels(docs: DataFrame) -> DataFrame:
    """Pairwise relations over mock-NER mentions (relations.py:62-142)."""

    def _fn(text: str) -> list[dict]:
        return extract_relations(text, mock_ner(text))

    return _per_url(docs, _fn, REL_STRUCT)


def extract_chunks(docs: DataFrame) -> DataFrame:
    """Sentence chunking (chunker.py:64-197) at the parse shard's
    defaults: 500-char chunks, overlap 50."""
    return _per_url(docs, chunk_sentences, CHUNK_STRUCT)


def extract_claims_df(docs: DataFrame) -> DataFrame:
    """Rule-based claims (claims/shard.py:300-374)."""
    return _per_url(docs, extract_claims, CLAIM_STRUCT)


def extract_chunks_semantic(
    docs: DataFrame,
    chunk_size: int = 500,
    overlap: int = 50,
    dim: int = 64,
) -> DataFrame:
    """C3 semantic chunking (chunker.py:199-334): per-doc sentence
    embeddings from the embed_model singleton (sentence-transformers when
    importable, deterministic fake otherwise) feed the reference-faithful
    window-2-cosine breakpoint skeleton. One Arrow pass, embeddings never
    leave the worker."""
    from ..reference_impl.semantic_chunker import chunk_semantic
    from .embed_model import _load_model, fake_embedding

    def _fn(text: str) -> list[dict]:
        model = _load_model("BAAI/bge-m3")

        def _embed(sents: list[str]):
            if model is not None:
                return [list(map(float, v)) for v in model.encode(sents, batch_size=32)]
            return [fake_embedding(s, dim=dim) for s in sents]

        return chunk_semantic(text, _embed, chunk_size=chunk_size, overlap=overlap)

    return _per_url(docs, _fn, CHUNK_STRUCT)


def extract_rels_from_mentions(docs_raw: DataFrame) -> DataFrame:
    """Native fast path for relations on the mock-NER pipeline: with the
    degenerate 0/0 offsets the reference emits (_pair_relation via
    relations.py:108-121), EVERY ordered mention pair is a co_occurrence
    with confidence exactly 0.5 and evidence "Entities within 0 chars" —
    so the rels table is a pure pair combination over the already-extracted
    `_mentions` arrays. No second mock-NER pass, no per-pair Python: the
    Arrow-batched variant measured 37 s of the 76 s pipeline wall at 20k
    docs; this is one whole-stage-codegen explode. `extract_rels` remains
    the general-text operator for real-offset NER (between-text patterns).

    Parity with extract_rels on the mock path is asserted in
    tests/test_pipeline_spark.py.
    """
    from pyspark.sql import functions as F

    from .edges import ordered_pairs

    pairs = ordered_pairs(
        F.col("_mentions").getField("text"), "source_text", "target_text"
    )
    return (
        docs_raw.where(F.col("error").isNull())
        .select("url", F.explode(pairs).alias("p"))
        .select(
            "url",
            F.col("p.source_text"),
            F.col("p.target_text"),
            F.lit("co_occurrence").alias("relation_type"),
            F.lit(0.5).alias("confidence"),
            F.lit("Entities within 0 chars").alias("evidence"),
        )
    )
